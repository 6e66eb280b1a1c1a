package graft.streaming

import graft.queries.Dsl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ops.TextCorpus

/** Contract of the store family's tombstone-deletion path: masked at
  * read, corrected statistics (the postings df/dl story), physically
  * dropped at compaction, crash-safe delete batches, and the downstream
  * behavior changes deletion exists for (admission stops screening
  * against deleted content; ledger and sample reads drop the rows).
  * The end-to-end serve-parity claims live in the gated
  * `t17_store_delete` / `t18_index_delete` oracles — these specs cover
  * the failure windows and per-store behaviors the gates don't. */
class DeleteSpec extends SparkSpec {

  private def tmp(p: String) = Dsl.tempDir(p)

  private def docs: DataFrame =
    Tables.documents(spark, sf).select("doc_id", "text")

  private def seedPostings(d: DataFrame, positions: Boolean = false): String = {
    val store = tmp("delps") + "/index"
    PostingsStream.batchPartial(d.filter(col("doc_id") % 2 === 0), positions)
      .write.mode("overwrite").parquet(s"$store/graft_batch=0")
    PostingsStream.batchPartial(d.filter(col("doc_id") % 2 === 1), positions)
      .write.mode("overwrite").parquet(s"$store/graft_batch=1")
    store
  }

  private def queriesOf(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))

  private def bm25Set(store: String, q: DataFrame) =
    PostingsStream.bm25Serve(spark, store, q, k = 5)
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet

  test("postings: deletion-masked serve equals the survivors-only build, " +
       "before AND after the physical fold") {
    val d = docs
    val survivors = d.filter(col("doc_id") % 5 =!= 0)
    val store = seedPostings(d)
    PostingsStream.deleteDocs(spark, store,
      d.filter(col("doc_id") % 5 === 0).select("doc_id"))
    val q = queriesOf(d)
    val want = TextCorpus.bm25TopK(survivors, col("doc_id"), col("text"),
        q, k = 5)
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty)
    assert(bm25Set(store, q) === want, "masked serve")
    val c = PostingsStream.compactIndex(spark, store, keepBatches = 1)
    assert(c.gen >= 2)
    // physical drop: the folded base holds no trace of the deleted docs
    val base = spark.read.parquet(s"$store/graft_batch=-${c.gen}")
    assert(base.filter(col("doc_id") % 5 === 0).count() === 0)
    assert(bm25Set(store, q) === want, "post-fold serve")
  }

  test("postings: a crashed delete batch (staging dir) is invisible and " +
       "a rerun converges") {
    val d = docs
    val store = seedPostings(d)
    val before = bm25Set(store, queriesOf(d))
    // simulate the crash window: a staged-but-never-renamed delete dir
    d.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("del_id"))
      .write.mode("overwrite").parquet(s"$store/_deletes/.stage-1")
    assert(!BatchStore.hasDeletes(spark, store),
      "staging must not count as a published delete")
    assert(bm25Set(store, queriesOf(d)) === before,
      "a crashed delete must not change any serve")
    // rerun the takedown: publishes despite the stale staging
    PostingsStream.deleteDocs(spark, store,
      d.filter(col("doc_id") % 5 === 0).select("doc_id"))
    assert(BatchStore.hasDeletes(spark, store))
    val dels = BatchStore.readDeletes(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(dels === d.filter(col("doc_id") % 5 === 0)
      .collect().map(_.getLong(0)).toSet)
  }

  test("postings: deleting every doc of a word zeroes its df exactly " +
       "(negative partials cancel the visible counts)") {
    import spark.implicits._
    val d = Seq((1L, "unique shared"), (2L, "shared other"))
      .toDF("doc_id", "text")
    val store = tmp("deldf") + "/index"
    PostingsStream.batchPartial(d)
      .write.mode("overwrite").parquet(s"$store/graft_batch=0")
    PostingsStream.deleteDocs(spark, store, Seq(1L).toDF("doc_id"))
    val (_, dl, df) = PostingsStream.readIndex(spark, store)
    assert(dl.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
    val dfSum = df.groupBy("word").agg(sum("df").as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfSum("unique") === 0L, "fully-deleted word must net to df 0")
    assert(dfSum("shared") === 1L)
    assert(dfSum("other") === 1L)
  }

  test("lists: tombstones mask readLists and compactLists drops physically") {
    val emb = Tables.embeddings(spark, sf)
    val root = tmp("dellists")
    val (cent, lists) = graft.similarity.Similarity.ivfBuildQuantized(
      emb, nlist = 4, lloydIters = 1)
    lists.write.mode("overwrite").parquet(s"$root/lists/graft_batch=-1")
    val all = IndexStream.readLists(spark, s"$root/lists")
      .select("cand_id").collect().map(_.getLong(0)).toSet
    IndexStream.deleteVectors(spark, s"$root/lists",
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"))
    val masked = IndexStream.readLists(spark, s"$root/lists")
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(masked === all.filterNot(_ % 3 == 0))
    // a second batch dir so the fold has something to do
    lists.limit(0).write.mode("overwrite")
      .parquet(s"$root/lists/graft_batch=0")
    lists.limit(0).write.mode("overwrite")
      .parquet(s"$root/lists/graft_batch=1")
    val c = IndexStream.compactLists(spark, s"$root/lists", keepBatches = 1)
    assert(c.gen >= 2)
    val base = spark.read.parquet(s"$root/lists/graft_batch=-${c.gen}")
    assert(base.filter(col("cand_id") % 3 === 0).count() === 0)
    assert(IndexStream.readLists(spark, s"$root/lists")
      .select("cand_id").collect().map(_.getLong(0)).toSet === masked)
  }

  test("sigs: after deleteDocs, a duplicate of ONLY-deleted content is " +
       "admitted (the content left the corpus)") {
    import graft.dedup.Dedup
    val d = docs.limit(40)
    val store = tmp("delsig") + "/sigs"
    // seed the store with every doc's signature as batch 0
    Dedup.minhashSignatures(d, col("doc_id"), col("text"),
        numHashes = 32)
      .write.mode("overwrite").parquet(s"$store/graft_batch=0")
    // a delta that exactly duplicates doc 3's text
    val delta = Dedup.minhashSignatures(
      d.filter(col("doc_id") === 3)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32)
    def screen(): String = {
      val corpus0 = BatchStore.read(spark, store).select("id", "sig")
      val corpus =
        if (!BatchStore.hasDeletes(spark, store)) corpus0
        else corpus0.join(BatchStore.readDeletes(spark, store),
          col("id") === col("del_id"), "left_anti")
      Dedup.minhashIncremental(corpus, delta, bands = 8, rowsPerBand = 4,
        minAgreement = 0.5)
        .select("verdict").head.getString(0)
    }
    assert(screen() === "reject", "twin present: must reject")
    DedupStream.deleteDocs(spark, store,
      spark.range(3, 4).select(col("id").as("doc_id")))
    assert(screen() === "admit",
      "twin deleted: identical new content must now be admitted")
  }

  test("ledger: deleted docs drop out of read/labelsFor") {
    import spark.implicits._
    val dir = tmp("delledger") + "/labels"
    DeltaLedger.write(Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster_id"), dir, 0L)
    DeltaLedger.delete(spark, dir, Seq(2L).toDF("doc_id"))
    assert(DeltaLedger.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (3L, 3L)))
    // physical drop at the fold
    DeltaLedger.write(Seq((4L, 4L)).toDF("doc_id", "cluster_id"), dir, 1L)
    DeltaLedger.write(Seq((5L, 5L)).toDF("doc_id", "cluster_id"), dir, 2L)
    val c = DeltaLedger.compact(spark, dir, keepBatches = 1)
    assert(c.gen >= 2)
    assert(spark.read.parquet(s"$dir/graft_batch=-${c.gen}")
      .filter(col("doc_id") === 2L).count() === 0)
  }

  test("sample: deleteFromSample removes ids through the snapshot " +
       "protocol (shrink-only semantics)") {
    import spark.implicits._
    val stateDir = tmp("delsample") + "/state"
    SnapshotStore.fold(spark, stateDir, 0L) { _ =>
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("sample_id", "weight")
    }
    SampleStream.deleteFromSample(spark, stateDir, Seq(2L).toDF("doc_id"))
    val got = ViewMaintenance.readLatest(spark, stateDir).get
      .select("sample_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L))
  }

  test("snapshot fold: a replay that skips by prior-name RE-ADVANCES " +
       "_FOLDED, so a post-delete second replay still cannot re-fold") {
    import spark.implicits._
    val stateDir = tmp("foldmark") + "/state"
    def full = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("sample_id", "weight")
    SnapshotStore.fold(spark, stateDir, 0L)(_ => full)
    // simulate the crash window between the LATEST publish and the
    // _FOLDED publish of the FIRST attempt
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stateDir,
      SnapshotStore.FoldedPtr), false)
    assert(SnapshotStore.maxFolded(spark, stateDir).isEmpty)
    // replay: skipped by the prior-name match — and the mark must be
    // re-published on the skip path
    SnapshotStore.fold(spark, stateDir, 0L)(_ => full)
    assert(SnapshotStore.maxFolded(spark, stateDir) === Some(0L))
    // an admin delete, then a SECOND replay of batch 0: without the
    // skip-path re-advance this re-fold would resurrect id 2
    SampleStream.deleteFromSample(spark, stateDir, Seq(2L).toDF("doc_id"))
    SnapshotStore.fold(spark, stateDir, 0L)(_ => full)
    val got = ViewMaintenance.readLatest(spark, stateDir).get
      .select("sample_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L),
      s"double-crash replay resurrected a deleted id: $got")
  }
}
