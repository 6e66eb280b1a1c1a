package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.{Files, Paths}

/** STREAMED tombstones — `kind` ∈ add|del rows interleaved in the
  * maintenance feeds ([[PostingsStream.maintainPostings]],
  * [[IndexStream.maintainIndex]], [[AnnIndex.maintain]],
  * [[DedupStream.admitDocuments]] with `kindCol`): same-batch add+del
  * ordering (delete wins), cross-batch takedown, crash-replay
  * convergence of a delete-carrying batch, screen amnesia (a deleted
  * doc stops vetoing new arrivals), NULL payloads on del rows, and
  * fail-closed kind validation. The oracle-gated end-to-end identity
  * lives in `t22_stream_delete` / `t23_admission_delete`. */
class StreamDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocBatch(watchDir: String, name: String,
                            rows: Seq[(String, Long, String)]): Unit = {
    val stage = Dsl.tempDir("sdel_stage")
    rows.toDF("kind", "doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  private def docStream(watch: String) = spark.readStream
    .schema("kind STRING, doc_id LONG, text STRING")
    .option("maxFilesPerTrigger", "1")
    .parquet(watch)

  test("postings: same-batch add+del deletes; cross-batch del deletes; " +
       "crash-replay of the delete-carrying batch converges") {
    val root = Dsl.tempDir("sdel_post")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeDocBatch(watch, "b0.parquet", Seq(
      ("add", 1L, "alpha bravo charlie delta"),
      ("add", 2L, "echo foxtrot golf hotel")))
    Thread.sleep(20)
    // batch 1: adds doc 3, deletes doc 1 (cross-batch) AND doc 3 — the
    // doc it itself adds (same-batch: delete must win)
    writeDocBatch(watch, "b1.parquet", Seq(
      ("add", 3L, "alpha bravo india juliet"),
      ("del", 1L, null),
      ("del", 3L, null)))
    val ckpt = s"$root/ckpt"
    PostingsStream.maintainPostings(docStream(watch), s"$root/index", ckpt,
      kindCol = Some("kind")).awaitTermination()
    def served(): Set[Long] = PostingsStream.bm25Serve(spark, s"$root/index",
        Seq((9L, "alpha")).toDF("query_id", "query_text"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served() === Set.empty,
      "docs 1 (cross-batch del) and 3 (same-batch add+del) must be gone")
    assert(PostingsStream.bm25Serve(spark, s"$root/index",
        Seq((9L, "echo")).toDF("query_id", "query_text"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))

    // crash-replay: drop batch 1's commit marker and restart — the
    // re-delivered delete-carrying batch must converge (the add dir is
    // overwritten; the re-applied tombstones are set-semantics no-ops)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    PostingsStream.maintainPostings(docStream(watch), s"$root/index", ckpt,
      kindCol = Some("kind")).awaitTermination()
    assert(served() === Set.empty, "replay resurrected a deleted doc")
    val (tf, dl, _) = PostingsStream.readIndex(spark, s"$root/index")
    assert(dl.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L),
      "replay duplicated or resurrected index rows")
    assert(tf.filter(col("doc_id") =!= 2L).count() === 0)

    // the fold then physically drops the tombstoned rows
    PostingsStream.compactIndex(spark, s"$root/index", keepBatches = 1)
    val base = spark.read.parquet(s"$root/index/graft_batch=-2")
    assert(base.filter(col("doc_id").isin(1L, 3L)).count() === 0,
      "compacted base still holds stream-deleted docs")
    assert(served() === Set.empty)
  }

  test("admission: a deleted doc stops vetoing — its later duplicate is " +
       "admitted; same-batch add+del keeps its verdict but leaves the " +
       "store and ledger tombstoned") {
    val root = Dsl.tempDir("sdel_adm")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val dupText = "the exact sentence that returns after its takedown"
    writeDocBatch(watch, "b0.parquet", Seq(
      ("add", 1L, dupText),
      ("add", 2L, "wholly different material about unrelated things")))
    Thread.sleep(20)
    // batch 1: takedown of doc 1, plus doc 3 added AND deleted here
    writeDocBatch(watch, "b1.parquet", Seq(
      ("del", 1L, null),
      ("add", 3L, "a third text that this very batch takes down"),
      ("del", 3L, null)))
    Thread.sleep(20)
    // batch 2: doc 4 duplicates ONLY the deleted doc 1 — must be ADMITTED
    writeDocBatch(watch, "b2.parquet", Seq(("add", 4L, dupText)))
    DedupStream.admitDocuments(docStream(watch), s"$root/store",
        s"$root/verdicts", s"$root/ckpt", kindCol = Some("kind"),
        labelsDir = Some(s"$root/labels"))
      .awaitTermination()
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts === Map(1L -> "admit", 2L -> "admit",
      3L -> "admit", 4L -> "admit"),
      s"doc 4 duplicates only DELETED content and must be admitted: $verdicts")
    // store: tombstone-masked read drops 1 and 3
    val live = {
      val ids = BatchStore.read(spark, s"$root/store").select("id")
      ids.join(BatchStore.readDeletes(spark, s"$root/store"),
          col("id") === col("del_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    }
    assert(live === Set(2L, 4L), s"live store wrong: $live")
    // ledger: deleted docs carry no label row
    val labels = DeltaLedger.read(spark, s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(2L -> 2L, 4L -> 4L),
      s"ledger must drop deleted docs' rows: $labels")
  }

  test("ANN lists: del rows carry NULL embeddings; deleted vectors leave " +
       "every shortlist; same-batch add+del deletes") {
    val root = Dsl.tempDir("sdel_ann")
    val dim = 4
    def vec(seed: Int) = (0 until dim).map(i =>
      ((seed * 31 + i * 7) % 13 - 6).toFloat / 3f)
    val corpus = (0L until 12L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val (cent, lists0) = graft.similarity.Similarity.ivfBuildQuantized(
      corpus.filter(col("vec_id") < 8), nlist = 2, lloydIters = 1)
    cent.write.mode("overwrite").parquet(s"$root/centroids")
    lists0.write.mode("overwrite").parquet(s"$root/lists/graft_batch=-1")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeVecBatch(name: String,
                      rows: Seq[(String, Long, Option[Seq[Float]])]): Unit = {
      val stage = Dsl.tempDir("sdel_vstage")
      rows.toDF("kind", "vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    writeVecBatch("b0.parquet", Seq(
      ("add", 8L, Some(vec(8))), ("add", 9L, Some(vec(9))),
      ("del", 3L, None))) // cross-store: deletes a BASE vector
    Thread.sleep(20)
    writeVecBatch("b1.parquet", Seq(
      ("add", 10L, Some(vec(10))), ("add", 11L, Some(vec(11))),
      ("del", 10L, None), // same-batch add+del
      ("del", 8L, None))) // cross-batch
    val stream = spark.readStream
      .schema("kind STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    IndexStream.maintainIndex(stream, s"$root/centroids", s"$root/lists",
      s"$root/ckpt", kindCol = Some("kind")).awaitTermination()
    val served = IndexStream.readLists(spark, s"$root/lists")
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(served === Set(0L, 1L, 2L, 4L, 5L, 6L, 7L, 9L, 11L),
      s"live lists wrong: $served")
  }

  test("maintained sample: in-stream deletes drop ids (same-batch and " +
       "cross-batch); later add batches refill naturally") {
    val root = Dsl.tempDir("sdel_samp")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeBatch(name: String, rows: Seq[(String, Long, Long)]): Unit = {
      val stage = Dsl.tempDir("sdel_sstage")
      rows.toDF("kind", "doc_id", "weight").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    writeBatch("b0.parquet",
      (1L to 5L).map(i => ("add", i, 10L)))
    Thread.sleep(20)
    // batch 1: adds 6-7, deletes 2 (cross-batch) and 6 (same-batch)
    writeBatch("b1.parquet", Seq(
      ("add", 6L, 10L), ("add", 7L, 10L),
      ("del", 2L, 0L), ("del", 6L, 0L)))
    Thread.sleep(20)
    // batch 2: a pure add wave refills after the takedown
    writeBatch("b2.parquet", Seq(("add", 8L, 10L)))
    val stream = spark.readStream
      .schema("kind STRING, doc_id LONG, weight LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    SampleStream.maintainSample(stream, s"$root/state", s"$root/ckpt",
        k = 10, salt = "sdel", kindCol = Some("kind"))
      .awaitTermination()
    val ids = ViewMaintenance.readLatest(spark, s"$root/state").get
      .select("sample_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 4L, 5L, 7L, 8L),
      s"sample after in-stream deletes wrong: $ids")
  }

  test("admission pre-mask: a doc duplicating only content its OWN batch " +
       "deletes is admitted, and a crash-replay of that batch converges " +
       "verdict-for-verdict") {
    val root = Dsl.tempDir("sdel_premask")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val dupText = "one sentence shared by the taken down doc and its twin"
    writeDocBatch(watch, "b0.parquet", Seq(
      ("add", 1L, dupText),
      ("add", 2L, "completely unrelated filler material here")))
    Thread.sleep(20)
    // batch 1 deletes doc 1 AND adds doc 5 = doc 1's duplicate: the
    // batch's own del pre-masks the screen, so doc 5 sees a corpus
    // without doc 1 and must be ADMITTED (post-takedown verdicts)
    writeDocBatch(watch, "b1.parquet", Seq(
      ("del", 1L, null),
      ("add", 5L, dupText)))
    val ckpt = s"$root/ckpt"
    def verdicts(): Map[Long, String] = spark.read
      .parquet(s"$root/verdicts").select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    DedupStream.admitDocuments(docStream(watch), s"$root/store",
        s"$root/verdicts", ckpt, kindCol = Some("kind"))
      .awaitTermination()
    val first = verdicts()
    assert(first === Map(1L -> "admit", 2L -> "admit", 5L -> "admit"),
      s"doc 5 duplicates only content its own batch deletes: $first")
    // crash-replay of the delete-carrying batch: the store's tombstones
    // now already contain doc 1, and the pre-mask makes the replayed
    // screen corpus identical — verdicts AND admitted signatures must
    // converge, not only the tombstone set (the round-16 advice)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    DedupStream.admitDocuments(docStream(watch), s"$root/store",
        s"$root/verdicts", ckpt, kindCol = Some("kind"))
      .awaitTermination()
    assert(verdicts() === first, "replayed verdicts diverged")
    val live = {
      val ids = BatchStore.read(spark, s"$root/store").select("id")
      ids.join(BatchStore.readDeletes(spark, s"$root/store"),
          col("id") === col("del_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    }
    assert(live === Set(2L, 5L), s"replayed live store diverged: $live")
  }

  test("maintained sample: crash-replay of a delete-carrying batch must " +
       "NOT re-fold over the shrunken sample (no rank>k backfill)") {
    import graft.ops.Sampling
    val root = Dsl.tempDir("sdel_sreplay")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeBatch(name: String, rows: Seq[(String, Long, Long)]): Unit = {
      val stage = Dsl.tempDir("sdel_srstage")
      rows.toDF("kind", "doc_id", "weight").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    val w0 = (1L to 40L).map(i => (i, i % 7 + 1))
    val w1 = (41L to 80L).map(i => (i, i % 11 + 1))
    // pick two ids CERTAIN to sit in the post-fold sample (the batch
    // identity the suite already certifies) so their deletes shrink it
    val inSample = Sampling.weightedSample(
        (w0 ++ w1).toDF("sample_id", "weight"),
        col("sample_id"), col("weight"), 15, "srp")
      .collect().map(_.getLong(0)).sorted.take(2)
    writeBatch("b0.parquet", w0.map(t => ("add", t._1, t._2)))
    Thread.sleep(20)
    // the delete-carrying batch ALSO adds 40 docs — the fold cuts most
    // of them at rank > k, exactly the rows an erroneous post-delete
    // re-fold would backfill into the deleted slots
    writeBatch("b1.parquet",
      w1.map(t => ("add", t._1, t._2)) ++
        inSample.map(d => ("del", d, 0L)))
    def mkStream() = spark.readStream
      .schema("kind STRING, doc_id LONG, weight LONG")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val ckpt = s"$root/ckpt"
    SampleStream.maintainSample(mkStream(), s"$root/state", ckpt,
        k = 15, salt = "srp", kindCol = Some("kind"))
      .awaitTermination()
    def state(): Set[Long] =
      ViewMaintenance.readLatest(spark, s"$root/state").get
        .select("sample_id").collect().map(_.getLong(0)).toSet
    val first = state()
    assert(first.size === 13, s"two in-sample deletes must shrink 15 -> 13")
    assert(inSample.forall(!first.contains(_)))
    // crash BEFORE the checkpoint commit: the batch re-delivers with the
    // delete's admin snapshot already published — the _FOLDED guard must
    // skip the fold (a re-fold over the 13 survivors ∪ 40 adds would
    // backfill the deleted slots back to 15) and the re-applied delete
    // is a no-op
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    SampleStream.maintainSample(mkStream(), s"$root/state", ckpt,
        k = 15, salt = "srp", kindCol = Some("kind"))
      .awaitTermination()
    assert(state() === first,
      "replayed delete-carrying batch changed the sample (backfill)")
  }

  test("maintained view: in-stream deletes retract min/max holders, a " +
       "delete arriving BEFORE its add suppresses the late add, a " +
       "same-batch add+del deletes, and a crash-replay converges") {
    import graft.ops.IncrementalAgg
    import graft.ops.IncrementalAgg.Measure
    val root = Dsl.tempDir("sdel_view")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeBatch(name: String,
                   rows: Seq[(String, Long, String, java.lang.Long)]): Unit = {
      val stage = Dsl.tempDir("sdel_vstage2")
      rows.toDF("kind", "id", "k", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    // corpus: the add-side source of every id the stream will fold
    val corpus = Seq((1L, "a", 10L), (2L, "a", 99L), (3L, "b", 5L),
      (4L, "b", 7L), (5L, "a", 50L), (6L, "a", 77L)).toDF("id", "k", "v")
    writeBatch("b0.parquet", Seq(
      ("add", 1L, "a", 10L), ("add", 2L, "a", 99L), ("add", 3L, "b", 5L)))
    Thread.sleep(20)
    // wave 1: del 2 (group a's MAX — the lazy-retraction trap) and
    // del 6 — an id only wave 2 adds (late-add suppression)
    writeBatch("b1.parquet", Seq(
      ("add", 4L, "b", 7L),
      ("del", 2L, null, null), ("del", 6L, null, null)))
    Thread.sleep(20)
    // wave 2: adds 5 and 6 (6 must stay suppressed), del 4
    // (cross-batch) and del 5 (same-batch add+del: delete wins)
    writeBatch("b2.parquet", Seq(
      ("add", 5L, "a", 50L), ("add", 6L, "a", 77L),
      ("del", 4L, null, null), ("del", 5L, null, null)))
    val measures = Seq(
      Measure("n", "count", lit(1)),
      Measure("sum_v", "sum", col("v")),
      Measure("min_id", "min", col("id")),
      Measure("max_id", "max", col("id")))
    def mkStream() = spark.readStream
      .schema("kind STRING, id LONG, k STRING, v LONG")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val ckpt = s"$root/ckpt"
    def drain(): Unit = ViewMaintenance.maintain(mkStream(), s"$root/state",
        ckpt, keys = Seq("k"), measures = measures,
        kindCol = Some("kind"), idCol = "id", corpus = Some(corpus))
      .awaitTermination()
    drain()
    def state(): Set[(String, Long, Long, Long, Long)] =
      ViewMaintenance.readLatest(spark, s"$root/state").get
        .select("k", "n", "sum_v", "min_id", "max_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    // survivors: 1 (a, 10) and 3 (b, 5) — everything else deleted
    val want = Set(("a", 1L, 10L, 1L, 1L), ("b", 1L, 5L, 3L, 3L))
    assert(state() === want, s"view after in-stream deletes: ${state()}")
    // crash-replay of the last delete-carrying batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    drain()
    assert(state() === want, "replayed view batch diverged")
    // the final view equals the batch-blind flat state over survivors
    val flat = IncrementalAgg.state(
        corpus.filter(col("id").isin(1L, 3L)), Seq(col("k")), measures)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(state() === flat)
  }

  test("a kind value outside {add, del} fails the batch, not silently " +
       "ingests or drops") {
    val root = Dsl.tempDir("sdel_bad")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeDocBatch(watch, "b0.parquet", Seq(
      ("add", 1L, "fine"), ("remove", 2L, null)))
    val e = intercept[StreamingQueryException] {
      PostingsStream.maintainPostings(docStream(watch), s"$root/index",
        s"$root/ckpt", kindCol = Some("kind")).awaitTermination()
    }
    assert(e.getCause.getMessage.contains("outside"),
      s"wrong failure: ${e.getCause.getMessage}")
    // a NULL kind must fail too — a plain negated isin filter would
    // silently drop the row from adds, dels and the validation alike
    val root2 = Dsl.tempDir("sdel_null")
    val watch2 = s"$root2/in"; Files.createDirectories(Paths.get(watch2))
    writeDocBatch(watch2, "b0.parquet", Seq(
      ("add", 1L, "fine"), (null, 2L, "lost row")))
    val e2 = intercept[StreamingQueryException] {
      PostingsStream.maintainPostings(docStream(watch2), s"$root2/index",
        s"$root2/ckpt", kindCol = Some("kind")).awaitTermination()
    }
    assert(e2.getCause.getMessage.contains("outside"),
      s"NULL kind not refused: ${e2.getCause.getMessage}")
  }
}
