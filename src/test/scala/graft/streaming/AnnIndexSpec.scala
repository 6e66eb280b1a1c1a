package graft.streaming

import graft.queries.Dsl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.similarity.Similarity

/** Contract of the versioned ANN index's retrain → re-encode →
  * atomic-swap lifecycle: a refreshed index equals a from-scratch
  * rebuild over the live corpus, a crash mid-rebuild leaves the old
  * version serving and a rerun converges, the replay fence kills
  * already-folded batches re-delivered across a swap, and refresh
  * fails closed on partial corpus coverage. The recall-improvement
  * story is gated end-to-end by `t19_quantizer_refresh`. */
class AnnIndexSpec extends SparkSpec {

  private def tmp(p: String) = Dsl.tempDir(p)

  private def emb: DataFrame =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")

  private def serveSet(root: String, queries: DataFrame,
                       corpus: DataFrame): Set[(Long, Int, Long)] =
    AnnIndex.serve(spark, root, queries, corpus, k = 3, nprobe = 2)
      .select("query_id", "rank", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def initAt(corpus: DataFrame): String = {
    val root = tmp("annix")
    AnnIndex.init(spark, root, corpus, nlist = 4, lloydIters = 1)
    root
  }

  test("refresh equals a from-scratch rebuild over the live corpus") {
    val e = emb
    val root = initAt(e)
    val q = e.filter(col("vec_id") < 4)
    AnnIndex.refresh(spark, root, e, nlist = 4, lloydIters = 1)
    assert(AnnIndex.currentVersion(spark, root) === Some(2L))
    // a from-scratch v1 on the same corpus must serve identically —
    // refresh IS ivfBuildQuantized over the live read, nothing else
    val fresh = initAt(e)
    assert(serveSet(root, q, e) === serveSet(fresh, q, e))
  }

  test("crash mid-rebuild: staged version invisible, old serves, rerun " +
       "converges") {
    val e = emb
    val root = initAt(e)
    val q = e.filter(col("vec_id") < 4)
    val before = serveSet(root, q, e)
    // simulate a crash DURING staging: v=2 dirs exist, pointer untouched
    e.limit(3).write.mode("overwrite").parquet(s"$root/v=2/centroids")
    assert(AnnIndex.currentVersion(spark, root) === Some(1L))
    assert(serveSet(root, q, e) === before,
      "a crashed staging must not change any serve")
    // rerun overwrites the torn staging and publishes
    AnnIndex.refresh(spark, root, e, nlist = 4, lloydIters = 1)
    assert(AnnIndex.currentVersion(spark, root) === Some(2L))
    assert(serveSet(root, q, e).nonEmpty)
  }

  test("replay fence: a batch folded by refresh is dead on re-delivery " +
       "into the new version") {
    val e = emb
    val standing = e.filter(col("vec_id") % 4 =!= 0)
    val delta = e.filter(col("vec_id") % 4 === 0)
    val root = initAt(standing)
    // one maintenance batch lands as graft_batch=0 in v1
    IndexStream.encodeAgainst(delta, s"$root/v=1/centroids")
      .write.mode("overwrite").parquet(s"$root/v=1/lists/graft_batch=0")
    AnnIndex.refresh(spark, root, e, nlist = 4, lloydIters = 1)
    val served = IndexStream.readLists(spark, s"$root/v=2/lists")
    val total = served.count()
    // the crash-replay of batch 0 arrives AFTER the swap: its rows are
    // already folded into v2's base, and the fence (hwm pinned at seed)
    // must keep the duplicate dir invisible
    IndexStream.encodeAgainst(delta, s"$root/v=2/centroids")
      .write.mode("overwrite").parquet(s"$root/v=2/lists/graft_batch=0")
    assert(IndexStream.readLists(spark, s"$root/v=2/lists").count() === total,
      "replayed folded batch must be excluded by the pointer filter")
    assert(served.select("cand_id").distinct().count() === total,
      "no vector may be listed twice")
  }

  test("refresh fails closed on partial corpus coverage and carries " +
       "tombstones forward") {
    val e = emb
    val root = initAt(e)
    assertThrows[IllegalArgumentException] {
      AnnIndex.refresh(spark, root, e.filter(col("vec_id") % 2 === 0),
        nlist = 4, lloydIters = 1)
    }
    AnnIndex.delete(spark, root,
      e.filter(col("vec_id") % 7 === 0).select("vec_id"))
    AnnIndex.refresh(spark, root, e, nlist = 4, lloydIters = 1)
    // deleted vectors are physically absent from the rebuilt lists...
    val lists = spark.read
      .parquet(s"$root/v=2/lists/${BatchStore.BatchCol}=-2")
    assert(lists.filter(col("cand_id") % 7 === 0).count() === 0)
    // ...and the tombstone set traveled with the swap
    assert(BatchStore.hasDeletes(spark, s"$root/v=2/lists"))
  }

  test("drift-triggered refresh: planted drift fires exactly one refresh, " +
       "equals the manual flow, and a generous threshold never fires") {
    import spark.implicits._
    // a WELL-CLUSTERED synthetic corpus (not the near-random test
    // embeddings, whose mean cosine residual hovers ~0.8 for ANY
    // quantizer — no statistic could contrast drift there): standing
    // vectors sit in four tight axis-aligned clusters (baseline
    // residual ≈ 0), the drifted delta is a fifth cluster on an axis
    // the stale quantizer never saw (per-batch residual ≈ 1) — the
    // distribution-shift shape the monitor exists to catch
    def vec(axis: Int, j: Int): Seq[Float] =
      (0 until 8).map(d =>
        (if (d == axis) 10f else 0f) + ((j * 7 + d * 3) % 5) * 0.1f)
    val standing = (0L until 40L).map(i => (i, vec((i % 4).toInt, i.toInt)))
      .toDF("vec_id", "embedding")
    val delta = (100L until 124L).map(i => (i, vec(5, i.toInt)))
      .toDF("vec_id", "embedding")
    val corpus = standing.unionByName(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def writeWave(watch: String, i: Int): Unit = {
      val stage = tmp("anndrift_stage")
      delta.filter(col("vec_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(System.currentTimeMillis() - 3600000L + i * 2000L)
    }
    def mkWatch(): String = {
      val w = tmp("anndrift_w"); (0 until 3).foreach(i => writeWave(w, i)); w
    }
    def stream(w: String) = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(w)

    // policy run: the first drifted wave must trigger ONE refresh; the
    // post-refresh baseline is trained on the drifted data, so the
    // remaining drifted waves must not re-trigger
    val root = tmp("anndrift_p")
    AnnIndex.init(spark, root, standing, nlist = 8, lloydIters = 2)
    assert(AnnIndex.versionResidual(spark, root, 1L).nonEmpty,
      "init must stamp the training-residual baseline")
    AnnIndex.maintain(stream(mkWatch()), root, tmp("anndrift_ck"),
        refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0, AnnIndex.PinnedCorpus(corpus),
          nlist = 8, lloydIters = 2)))
      .awaitTermination()
    assert(AnnIndex.currentVersion(spark, root) === Some(2L),
      "planted drift must trigger exactly one refresh")
    assert(AnnIndex.versionResidual(spark, root, 2L).nonEmpty)

    // manual twin: drain wave 0 alone, refresh by hand, drain waves 1-2
    // — the policy run must land in the identical end state
    val root2 = tmp("anndrift_m")
    AnnIndex.init(spark, root2, standing, nlist = 8, lloydIters = 2)
    val w2 = tmp("anndrift_w2"); val ck2 = tmp("anndrift_ck2")
    writeWave(w2, 0)
    AnnIndex.maintain(stream(w2), root2, ck2).awaitTermination()
    AnnIndex.refresh(spark, root2, corpus, nlist = 8, lloydIters = 2)
    writeWave(w2, 1); writeWave(w2, 2)
    AnnIndex.maintain(stream(w2), root2, ck2).awaitTermination()
    val q = corpus.filter(col("vec_id") < 6)
    assert(serveSet(root, q, corpus) === serveSet(root2, q, corpus),
      "policy-driven refresh diverged from the manual refresh flow")

    // control: a generous threshold records the statistic but never fires
    val root3 = tmp("anndrift_c")
    AnnIndex.init(spark, root3, standing, nlist = 8, lloydIters = 2)
    AnnIndex.maintain(stream(mkWatch()), root3, tmp("anndrift_ck3"),
        refreshPolicy = Some(AnnIndex.RefreshPolicy(1e6, AnnIndex.PinnedCorpus(corpus),
          nlist = 8, lloydIters = 2)))
      .awaitTermination()
    assert(AnnIndex.currentVersion(spark, root3) === Some(1L),
      "a threshold no batch crosses must never refresh")
    corpus.unpersist()
  }

  test("a missing or non-positive residual baseline never triggers a " +
       "refresh — zero must not read as 'any residual is drift'") {
    import spark.implicits._
    def vec(axis: Int, j: Int): Seq[Float] =
      (0 until 8).map(d =>
        (if (d == axis) 10f else 0f) + ((j * 7 + d * 3) % 5) * 0.1f)
    val standing = (0L until 40L).map(i => (i, vec((i % 4).toInt, i.toInt)))
      .toDF("vec_id", "embedding")
    val delta = (100L until 112L).map(i => (i, vec(5, i.toInt)))
      .toDF("vec_id", "embedding")
    val corpus = standing.unionByName(delta)
    def drain(root: String): Unit = {
      val watch = tmp("annzero_w")
      val stage = tmp("annzero_stage")
      delta.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watch, "b0.parquet").toPath)
      val stream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(watch)
      AnnIndex.maintain(stream, root, tmp("annzero_ck"),
          refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0, AnnIndex.PinnedCorpus(corpus),
            nlist = 8, lloydIters = 2)))
        .awaitTermination()
    }
    // baseline forced to 0 (the degenerate vectors-on-centroids corpus):
    // factor × 0 would fire on ANY positive residual — the strictly-
    // positive guard must keep the store on version 1
    val rootZero = tmp("annzero_z")
    AnnIndex.init(spark, rootZero, standing, nlist = 8, lloydIters = 2)
    StatePointer.publish(spark, s"$rootZero/v=1", "_RESIDUAL", "0")
    drain(rootZero)
    assert(AnnIndex.currentVersion(spark, rootZero) === Some(1L),
      "a zero baseline must never trigger (it carries no drift scale)")
    // baseline stamp missing entirely (pre-policy version dir): the
    // monitor records but never triggers — documented inert behavior
    val rootNone = tmp("annzero_n")
    AnnIndex.init(spark, rootNone, standing, nlist = 8, lloydIters = 2)
    val fs = new org.apache.hadoop.fs.Path(rootNone)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$rootNone/v=1/_RESIDUAL"),
      false)
    assert(AnnIndex.versionResidual(spark, rootNone, 1L).isEmpty)
    drain(rootNone)
    assert(AnnIndex.currentVersion(spark, rootNone) === Some(1L),
      "an un-stamped version must never trigger")
  }

  test("StoreCorpus: the trigger retrains from the maintained vector " +
       "store read at refresh time — agrees with the pinned snapshot " +
       "when they match, and a tombstoned live id fails the rebuild " +
       "closed") {
    import spark.implicits._
    // same planted-drift corpus as the policy test: four standing
    // clusters, a fifth off-manifold delta cluster
    def vec(axis: Int, j: Int): Seq[Float] =
      (0 until 8).map(d =>
        (if (d == axis) 10f else 0f) + ((j * 7 + d * 3) % 5) * 0.1f)
    val standing = (0L until 40L).map(i => (i, vec((i % 4).toInt, i.toInt)))
      .toDF("vec_id", "embedding")
    val delta = (100L until 124L).map(i => (i, vec(5, i.toInt)))
      .toDF("vec_id", "embedding")
    val corpus = standing.unionByName(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def mkWatch(): String = {
      val w = tmp("annsc_w")
      (0 until 3).foreach { i =>
        val stage = tmp("annsc_stage")
        delta.filter(col("vec_id") % 3 === i).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(w, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(
          System.currentTimeMillis() - 3600000L + i * 2000L)
      }
      w
    }
    def stream(w: String) = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(w)
    def mkStore(): String = {
      val store = tmp("annsc_store")
      corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
        .write.mode("overwrite")
        .parquet(s"$store/${BatchStore.BatchCol}=-1")
      store
    }
    // pinned run and store run must land in the identical end state
    // when the caller's snapshot matches the store
    val rootP = tmp("annsc_p")
    AnnIndex.init(spark, rootP, standing, nlist = 8, lloydIters = 2)
    AnnIndex.maintain(stream(mkWatch()), rootP, tmp("annsc_ckp"),
        refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0,
          AnnIndex.PinnedCorpus(corpus), nlist = 8, lloydIters = 2)))
      .awaitTermination()
    val rootS = tmp("annsc_s")
    AnnIndex.init(spark, rootS, standing, nlist = 8, lloydIters = 2)
    AnnIndex.maintain(stream(mkWatch()), rootS, tmp("annsc_cks"),
        refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0,
          AnnIndex.StoreCorpus(mkStore()), nlist = 8, lloydIters = 2)))
      .awaitTermination()
    assert(AnnIndex.currentVersion(spark, rootS) === Some(2L),
      "store-corpus mode must trigger exactly like pinned mode")
    val q = corpus.filter(col("vec_id") < 6)
    assert(serveSet(rootP, q, corpus) === serveSet(rootS, q, corpus),
      "store-derived retrain diverged from the pinned snapshot")
    // fail-closed: tombstoning a LIVE id out of the store makes the
    // masked read partial — the triggered rebuild must throw (refresh's
    // coverage require), never silently shrink the index
    val store2 = mkStore()
    BatchStore.delete(spark, store2, Seq(0L).toDF("id"))
    val rootT = tmp("annsc_t")
    AnnIndex.init(spark, rootT, standing, nlist = 8, lloydIters = 2)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      AnnIndex.maintain(stream(mkWatch()), rootT, tmp("annsc_ckt"),
          refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0,
            AnnIndex.StoreCorpus(store2), nlist = 8, lloydIters = 2)))
        .awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("refusing to rebuild a")),
      s"expected the coverage require, got: ${messages(ex).mkString(" | ")}")
    corpus.unpersist()
  }

  test("maintain + serve equal the fixed-quantizer batch build") {
    val e = emb
    val standing = e.filter(col("vec_id") % 4 =!= 0)
    val delta = e.filter(col("vec_id") % 4 === 0)
    val root = initAt(standing)
    IndexStream.encodeAgainst(delta, s"$root/v=1/centroids")
      .write.mode("overwrite").parquet(s"$root/v=1/lists/graft_batch=0")
    val q = e.filter(col("vec_id") < 4)
    // reference: the one-shot build trained on standing, assignment over
    // everything (ivfServeQuantized over manually encoded full corpus)
    val (cent, _) = Similarity.ivfBuildQuantized(standing, nlist = 4,
      lloydIters = 1)
    val centDir = tmp("annixcent")
    cent.write.mode("overwrite").parquet(centDir)
    val want = Similarity.ivfServeQuantized(q,
        spark.read.parquet(centDir),
        IndexStream.encodeAgainst(e, centDir), e, 3, nprobe = 2,
        rescoreK = 6)
      .select("query_id", "rank", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = AnnIndex.serve(spark, root, q, e, k = 3, nprobe = 2,
        rescoreK = 6)
      .select("query_id", "rank", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want)
  }
}
