package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming corpus admission: micro-batches of documents screened
  * against the growing signature store, verdicts appended, admitted
  * signatures extending the store — and the whole run equal to the same
  * batches replayed through batch-mode incremental admission. */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(Long, String)]): Unit = {
    val stage = Dsl.tempDir("dedup_stage")
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  /** Verdicts (doc_id -> (verdict, dup_of or -1)) of `batches` admitted
    * one by one through batch-mode incremental admission. */
  private def batchReplay(batches: Seq[Seq[(Long, String)]])
      : Map[Long, (String, Long)] = {
    def sigs(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), numHashes = 32)
    var corpus = sigs(Seq.empty).limit(0)
    batches.flatMap { batch =>
      val delta = sigs(batch)
      val v = Dedup.minhashIncremental(corpus, delta)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      val admitted = v.filter(_._2._1 == "admit").map(_._1).toSet
      corpus = corpus.unionByName(
        delta.filter(col("id").isInCollection(admitted)))
      v
    }.toMap
  }

  test("streaming admission matches batch-mode incremental admission") {
    val root = Dsl.tempDir("dedup_stream")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val store = s"$root/store"; val verdicts = s"$root/verdicts"
    val ckpt = s"$root/ckpt"

    val b0 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "completely different words about spark streaming state and time")
    val b1 = Seq(
      3L -> "the quick brown fox jumps over the lazy dog every single day", // dup of 1
      4L -> "a third topic entirely involving parquet files and bucket joins")
    val b2 = Seq(
      5L -> "a third topic entirely involving parquet files and bucket joins", // dup of 4
      6L -> "twins inside one batch share their text word for word exactly",
      7L -> "twins inside one batch share their text word for word exactly") // dup of 6
    writeBatch(watch, "b0.parquet", b0)
    Thread.sleep(20)
    writeBatch(watch, "b1.parquet", b1)
    Thread.sleep(20)
    writeBatch(watch, "b2.parquet", b2)

    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DedupStream.admitDocuments(docs, store, verdicts, ckpt)
      .awaitTermination()

    val got = spark.read.parquet(verdicts)
      .select("doc_id", "verdict", "dup_of")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got.size == 7)
    assert(got(1L) == ("admit", -1L) && got(2L) == ("admit", -1L))
    assert(got(3L) == ("reject", 1L))
    assert(got(4L) == ("admit", -1L))
    assert(got(5L) == ("reject", 4L))
    assert(got(6L) == ("admit", -1L) && got(7L) == ("reject", 6L))

    // the store holds exactly the admitted signatures
    val storedIds = spark.read.parquet(store)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(storedIds == Set(1L, 2L, 4L, 6L))

    // parity: replay the same batches through batch-mode admission
    assert(batchReplay(Seq(b0, b1, b2)) == got)

    // crash-replay idempotency: drop the LAST batch's commit marker (a
    // crash after the foreachBatch body but before the checkpoint commit)
    // and restart — the source re-delivers batch 2, whose per-batch
    // subdir overwrite must REPLACE the first attempt, not append to it.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    val docs2 = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DedupStream.admitDocuments(docs2, store, verdicts, ckpt)
      .awaitTermination()

    val after = spark.read.parquet(verdicts)
      .select("doc_id", "verdict", "dup_of").collect()
    assert(after.length == 7, "replayed batch must not duplicate verdicts")
    assert(after.map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap == got)
    val storeRows = spark.read.parquet(store).select("id").collect()
    assert(storeRows.length == 4, "replayed batch must not duplicate signatures")
    assert(storeRows.map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 6L))
  }

  test("continuous mode: stop mid-stream, restart, verdict parity with AvailableNow") {
    // The long-running shape (continuous = true, no AvailableNow
    // trigger): batches arrive while the query runs, the process stops
    // BETWEEN deliveries (deploy restart, not crash — the crash path is
    // covered above), a fresh query resumes from the checkpoint, and the
    // final verdicts must equal a one-shot AvailableNow drain of the
    // same files — plus no batch may own two store partitions.
    val b0 = Seq(
      11L -> "the quick brown fox jumps over the lazy dog every single day",
      12L -> "completely different words about spark streaming state and time")
    val b1 = Seq(
      13L -> "the quick brown fox jumps over the lazy dog every single day", // dup of 11
      14L -> "a third topic entirely involving parquet files and bucket joins")
    val b2 = Seq(
      15L -> "a third topic entirely involving parquet files and bucket joins", // dup of 14
      16L -> "twins inside one batch share their text word for word exactly",
      17L -> "twins inside one batch share their text word for word exactly") // dup of 16

    def readVerdicts(dir: String): Map[Long, (String, Long)] =
      spark.read.parquet(dir).select("doc_id", "verdict", "dup_of")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

    def mkStream(watch: String) = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)

    // continuous run with a mid-stream restart
    val rootC = Dsl.tempDir("dedup_cont")
    val watchC = s"$rootC/in"; Files.createDirectories(Paths.get(watchC))
    val storeC = s"$rootC/store"; val verdictsC = s"$rootC/verdicts"
    val ckptC = s"$rootC/ckpt"
    writeBatch(watchC, "b0.parquet", b0)
    val q1 = DedupStream.admitDocuments(mkStream(watchC), storeC, verdictsC,
      ckptC, continuous = true)
    q1.processAllAvailable()
    Thread.sleep(20)
    writeBatch(watchC, "b1.parquet", b1)
    q1.processAllAvailable()
    q1.stop() // b2 has not been delivered yet: a true mid-stream stop
    Thread.sleep(20)
    writeBatch(watchC, "b2.parquet", b2)
    val q2 = DedupStream.admitDocuments(mkStream(watchC), storeC, verdictsC,
      ckptC, continuous = true)
    q2.processAllAvailable()
    q2.stop()

    // one-shot AvailableNow drain of the same three files, fresh state
    val rootA = Dsl.tempDir("dedup_avail")
    val watchA = s"$rootA/in"; Files.createDirectories(Paths.get(watchA))
    writeBatch(watchA, "b0.parquet", b0)
    Thread.sleep(20)
    writeBatch(watchA, "b1.parquet", b1)
    Thread.sleep(20)
    writeBatch(watchA, "b2.parquet", b2)
    DedupStream.admitDocuments(mkStream(watchA), s"$rootA/store",
      s"$rootA/verdicts", s"$rootA/ckpt").awaitTermination()

    val gotC = readVerdicts(verdictsC)
    assert(gotC.size == 7)
    assert(gotC == readVerdicts(s"$rootA/verdicts"),
      "continuous-with-restart verdicts diverged from the AvailableNow drain")

    // replay-idempotence across the restart: every store partition is a
    // distinct batch, and the store holds exactly the admitted set once
    val parts = new java.io.File(storeC).listFiles()
      .map(_.getName).filter(_.startsWith("graft_batch="))
    assert(parts.length == parts.distinct.length && parts.nonEmpty)
    val ids = spark.read.parquet(storeC).select("id")
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      s"duplicate signatures in the store: ${ids.toSeq}")
    assert(ids.toSet == Set(11L, 12L, 14L, 16L))
  }

  test("store compaction: read parity, crash debris excluded, replay target kept") {
    // Build a store the streaming writer's way: three admitted-signature
    // batch dirs.
    val root = Dsl.tempDir("dedup_compact")
    val store = s"$root/store"
    def sigs(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), numHashes = 32)
    val batches = Seq(
      Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Seq(2L -> "one two three four five six seven eight nine ten eleven"),
      Seq(3L -> "red orange yellow green blue indigo violet white black gray"))
    batches.zipWithIndex.foreach { case (b, i) =>
      sigs(b).write.mode("overwrite").parquet(s"$store/graft_batch=$i")
    }
    def liveIds(): Set[Long] = BatchStore.read(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    val before = liveIds()
    assert(before == Set(1L, 2L, 3L))

    // Fold batches 0-1 into generation 2; batch 2 stays the replay target.
    val rep = BatchStore.compact(spark, store, keepBatches = 1)
    assert(rep.gen == 2L && rep.foldedThrough == 1L &&
      rep.foldedBatches == Seq(0L, 1L) && rep.baseRows == 2L)
    assert(liveIds() == before, "compaction changed the live row set")
    val dirs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("graft_batch=")).toSet
    assert(dirs == Set("graft_batch=-2", "graft_batch=2"),
      s"unexpected layout after fold: $dirs")

    // Crash debris: a staged-but-unpublished next generation and a
    // folded-but-not-GC'd batch dir must both be excluded by the read
    // filter (the pointer, not garbage collection, defines liveness).
    sigs(Seq(99L -> "stale staged generation from a crashed compaction"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=-3")
    sigs(Seq(98L -> "dead folded dir whose delete crashed mid-GC"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=1")
    assert(liveIds() == before, "crash debris leaked into the live read")

    // A replayed batch 2 (crash before checkpoint commit) still targets
    // its live dir: the overwrite replaces, never duplicates.
    sigs(Seq(3L -> "red orange yellow green blue indigo violet white black gray",
             4L -> "a second row the replay attempt adds to batch two"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=2")
    assert(liveIds() == Set(1L, 2L, 3L, 4L))

    // Second compaction converges: folds the replayed batch 2 + a new
    // batch 3, GCs ALL debris (stale gen -3, dead dir 1, old gen -2).
    sigs(Seq(5L -> "an entirely fresh batch three signature row"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=3")
    val rep2 = BatchStore.compact(spark, store, keepBatches = 1)
    assert(rep2.gen == 3L && rep2.foldedThrough == 2L &&
      rep2.foldedBatches == Seq(2L) && rep2.baseRows == 4L)
    assert(liveIds() == Set(1L, 2L, 3L, 4L, 5L))
    val dirs2 = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("graft_batch=")).toSet
    assert(dirs2 == Set("graft_batch=-3", "graft_batch=3"),
      s"GC left debris: $dirs2")

    // Nothing new to fold -> explicit no-op, layout untouched.
    val rep3 = BatchStore.compact(spark, store, keepBatches = 1)
    assert(rep3.gen == -1L && liveIds() == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("compactIfOver on a store that does not exist yet: None, nothing created") {
    // the drains' compaction step runs before the first batch has
    // written anything, so the policy must be a no-op on a missing dir
    val store = Dsl.tempDir("dedup_nostore") + "/store"
    assert(BatchStore.compactIfOver(spark, store, threshold = 2).isEmpty)
    assert(!Files.exists(Paths.get(store)),
      "compactIfOver created the missing store dir")
  }

  test("compaction policy: a long drain sequence keeps live store dirs bounded") {
    // 6 scheduled drains, 2 micro-batches each, compactWhenBatchesExceed=2:
    // without the policy the store accumulates 12 batch dirs forever;
    // with it, every drain start folds down to keepBatches and the live
    // dir count stays ≤ threshold + thisDrainsBatches + base — while the
    // verdict stream stays byte-identical to an unpoliced run.
    def distinctTexts(n: Int, tag: String): Seq[String] =
      (0 until n).map(i => s"wholly unique $tag document number $i with " +
        s"content words ${('a' + i % 26).toChar} ${('b' + i % 25).toChar}")
    def runSequence(policy: Option[Int]): (Map[Long, (String, Long)], Int, String) = {
      val root = Dsl.tempDir(s"dedup_pol${policy.isDefined}")
      val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
      var nextDoc = 0L
      for (drain <- 0 until 6) {
        for (b <- 0 until 2) {
          val texts = distinctTexts(2, s"d${drain}b$b")
          val rows = texts.map { t => nextDoc += 1; (nextDoc, t) } ++
            // every even batch also re-sends doc 1's text → a reject edge
            (if (b == 0) { nextDoc += 1; Seq((nextDoc,
              "the one duplicated sentence that every drain repeats verbatim")) }
             else Seq.empty)
          writeBatch(watch, s"d${drain}_b$b.parquet", rows)
          Thread.sleep(5)
        }
        val docs = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(watch)
        DedupStream.admitDocuments(docs, s"$root/store", s"$root/verdicts",
            s"$root/ckpt", compactWhenBatchesExceed = policy)
          .awaitTermination()
        policy.foreach { th =>
          val live = BatchStore.liveBatchCount(spark, s"$root/store")
          assert(live <= th + 2,
            s"drain $drain: $live live dirs exceeds threshold $th + 2")
        }
      }
      val verdicts = spark.read.parquet(s"$root/verdicts")
        .select("doc_id", "verdict", "dup_of")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      val dirCount = new java.io.File(s"$root/store").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("graft_batch="))
      (verdicts, dirCount, root)
    }
    val (policed, dirsPoliced, rootP) = runSequence(Some(2))
    val (unpoliced, dirsUnpoliced, _) = runSequence(None)
    assert(policed == unpoliced,
      "compaction policy changed the verdict stream")
    assert(dirsUnpoliced == 12, s"expected 12 accumulated dirs: $dirsUnpoliced")
    assert(dirsPoliced <= 2 + 2 + 1, // keepBatches + last drain's adds + base gen
      s"policy failed to bound the store: $dirsPoliced dirs")
    // and the policed store still reads complete through BatchStore
    val ids = BatchStore.read(spark, s"$rootP/store")
      .select("id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == unpoliced.filter(_._2._1 == "admit").keySet)
  }

  test("compaction policy fires mid-stream in continuous mode") {
    // A continuous query never reaches another drain start, so the
    // policy must re-fire at micro-batch boundaries or a long-running
    // loop with a configured bound would accumulate one dir per batch
    // forever. One query, 7 single-file batches delivered while it
    // runs, threshold 2: the live dir count after the drain must be
    // policy-bounded (7 without the in-batch re-check), and the store
    // must still read complete through BatchStore.
    val root = Dsl.tempDir("dedup_contpol")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val q = DedupStream.admitDocuments(
      spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(watch),
      s"$root/store", s"$root/verdicts", s"$root/ckpt",
      continuous = true, compactWhenBatchesExceed = Some(2))
    val batches = (0 until 7).map(b => Seq(
      (b * 2L, s"first wholly distinct continuous text number $b about " +
        s"${('a' + b).toChar} things"),
      (b * 2L + 1, s"second wholly distinct continuous text number $b " +
        s"covering ${('q' + b).toChar} topics")))
    for ((batch, b) <- batches.zipWithIndex) {
      writeBatch(watch, s"b$b.parquet", batch)
      q.processAllAvailable()
    }
    q.stop()
    val live = BatchStore.liveBatchCount(spark, s"$root/store")
    // policy fires when live > 2, folding down to keepBatches = 2; a
    // batch then adds one dir before the next check → never above 3
    assert(live <= 3, s"continuous policy failed to bound the store: " +
      s"$live live dirs after 7 batches")
    assert(BatchStore.readPointer(spark, s"$root/store").isDefined,
      "no compaction ever published mid-stream")
    val ids = BatchStore.read(spark, s"$root/store")
      .select("id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    // the verdicts equal batch-mode admission of the same batches (the
    // near-identical texts reject a few as duplicates), and the store
    // holds exactly the admitted ones
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "verdict", "dup_of").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(verdicts == batchReplay(batches))
    assert(verdicts.keySet == (0L until 14L).toSet)
    assert(ids.toSet == verdicts.filter(_._2._1 == "admit").keySet,
      s"policed continuous store lost signatures: ${ids.sorted.toSeq}")
  }

  test("ledger: a doc_id re-seen across batches keeps ONE label row") {
    // not a crash replay — the same doc_id genuinely arrives again in a
    // later batch; the ledger fold must keep its standing label instead
    // of carrying two label rows for one vertex (which would fan out
    // the relabel join and publish duplicate snapshot rows)
    val root = Dsl.tempDir("dedup_reseen")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeBatch(watch, "b0.parquet", Seq(
      1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "completely different words about spark streaming state and time"))
    Thread.sleep(20)
    writeBatch(watch, "b1.parquet", Seq(
      1L -> "the quick brown fox jumps over the lazy dog every single day", // re-seen
      3L -> "a third topic entirely involving parquet files and bucket joins"))
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DedupStream.admitDocuments(docs, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", labelsDir = Some(s"$root/labels"))
      .awaitTermination()
    val rows = DeltaLedger.read(spark, s"$root/labels")
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.length == rows.map(_._1).distinct.length,
      s"duplicate label rows in the published snapshot: $rows")
    assert(rows.toSet == Set((1L, 1L), (2L, 2L), (3L, 3L)),
      s"unexpected ledger labels: $rows")
  }

  test("ledger: clean batches (no dup edges) publish fresh singletons only") {
    // the common production case: most admission batches carry zero
    // reject edges, and the fast path must (a) write exactly the fresh
    // singletons, (b) never clobber a re-seen doc's standing label
    // with a fresh (d, d) row, and (c) leave a ledger a later dup
    // batch folds against correctly
    val root = Dsl.tempDir("dedup_clean")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val dupText = "the recurring sentence that batch three finally duplicates"
    // batch 0: clean (3 unique docs, one carrying dupText)
    writeBatch(watch, "b0.parquet", Seq(
      1L -> dupText,
      2L -> "completely different words about spark streaming state",
      3L -> "a third topic entirely involving parquet and bucket joins"))
    Thread.sleep(20)
    // batch 1: clean again, and re-sees doc 2 (standing label kept)
    writeBatch(watch, "b1.parquet", Seq(
      2L -> "completely different words about spark streaming state",
      4L -> "the fourth topic is wholly new material about window frames"))
    Thread.sleep(20)
    // batch 2: the first dup edge (5 rejects against doc 1)
    writeBatch(watch, "b2.parquet", Seq(5L -> dupText))
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DedupStream.admitDocuments(docs, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", labelsDir = Some(s"$root/labels"))
      .awaitTermination()
    def dirRows(b: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$root/labels/graft_batch=$b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dirRows(0) == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(dirRows(1) == Set((4L, 4L)),
      s"clean batch 1 must publish only its fresh singleton: ${dirRows(1)}")
    val labels = DeltaLedger.read(spark, s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 1L),
      s"ledger wrong after clean batches + a dup fold: $labels")
  }

  test("ledger: a tiny batch's delta dir is affected-sized, never corpus-sized") {
    // The production-shape claim of the delta-published ledger: after a
    // large admission history, a small batch writes only (batch +
    // affected neighborhood) label rows — the corpus's standing labels
    // are never re-serialized. Pinned on actual batch-dir row counts,
    // end-to-end through admitDocuments.
    val root = Dsl.tempDir("dedup_deltasize")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def unique(tag: String, i: Int): String =
      s"wholly distinct $tag corpus document number $i about subject " +
        s"${('a' + i % 26).toChar}${('b' + (i * 7) % 26).toChar} with its own words"
    val dupText = "the one sentence this corpus repeats verbatim for the gate"
    // batch 0: a 30-doc standing corpus (ids 1-30), doc 1 carries dupText
    writeBatch(watch, "b0.parquet",
      (1L to 30L).map(i => i ->
        (if (i == 1L) dupText else unique("base", i.toInt))))
    Thread.sleep(20)
    // batch 1: the tiny follow-up — one fresh doc + one dup of doc 1
    writeBatch(watch, "b1.parquet", Seq(
      31L -> unique("fresh", 31),
      32L -> dupText))
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DedupStream.admitDocuments(docs, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", labelsDir = Some(s"$root/labels"))
      .awaitTermination()
    def dirRows(b: Int): Long =
      spark.read.parquet(s"$root/labels/graft_batch=$b").count()
    assert(dirRows(0) == 30L,
      s"batch 0 must label its whole 30-doc corpus: ${dirRows(0)}")
    // batch 1's affected universe: its 2 docs + doc 1's touched cluster
    // ({1}) — far below the 30-row corpus a snapshot rewrite would pay
    assert(dirRows(1) <= 4L,
      s"tiny batch wrote a corpus-sized delta: ${dirRows(1)} rows")
    val labels = DeltaLedger.read(spark, s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 32 && labels(32L) == 1L && labels(31L) == 31L,
      s"ledger read wrong after the delta publish: $labels")
  }

  test("store compaction: lost _BASE pointer recovers from _HWM, never fails open") {
    // StatePointer's clobber-fallback publish has a crash window where
    // the pointer file is briefly missing; the reader must recover the
    // folded corpus from the generation dirs' _HWM meta — falling back
    // to the no-pointer filter would silently drop every folded row.
    val root = Dsl.tempDir("dedup_ptr")
    val store = s"$root/store"
    def sigs(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), numHashes = 32)
    Seq(Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
        Seq(2L -> "one two three four five six seven eight nine"),
        Seq(3L -> "red orange yellow green blue indigo violet white"))
      .zipWithIndex.foreach { case (b, i) =>
        sigs(b).write.mode("overwrite").parquet(s"$store/graft_batch=$i")
      }
    def liveIds(): Set[Long] = BatchStore.read(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    BatchStore.compact(spark, store, keepBatches = 1)
    assert(liveIds() == Set(1L, 2L, 3L))

    // crash window: pointer gone, generation -2 (with its _HWM) intact
    val ptr = new java.io.File(s"$store/_BASE")
    assert(ptr.delete(), "test setup: pointer must exist after compact")
    assert(liveIds() == Set(1L, 2L, 3L),
      "read failed open after pointer loss — folded corpus dropped")

    // crash mid-publish AFTER staging gen -3: highest COMPLETE staged
    // generation wins (it is exactly the state the publish was flipping
    // to), and an incomplete gen -4 (no _HWM) is skipped
    sigs(Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta",
             2L -> "one two three four five six seven eight nine",
             3L -> "red orange yellow green blue indigo violet white",
             4L -> "a fourth admitted row the next fold carried"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=-3")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/graft_batch=-3/_HWM"), "3")
    sigs(Seq(99L -> "half staged generation from a crash mid-write"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=-4")
    assert(liveIds() == Set(1L, 2L, 3L, 4L),
      "recovery did not select the highest complete staged generation")

    // a later compact heals: publishes a fresh pointer built on the
    // recovered generation
    sigs(Seq(5L -> "new batch four arrives after the crash recovery"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=4")
    sigs(Seq(6L -> "and batch five right behind it same drain"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=5")
    val rep = BatchStore.compact(spark, store, keepBatches = 1)
    assert(rep.gen == 4L, s"heal compact built on wrong generation: $rep")
    assert(new java.io.File(s"$store/_BASE").exists())
    assert(liveIds() == Set(1L, 2L, 3L, 4L, 5L, 6L))

    // fail CLOSED: generations exist but neither pointer nor any _HWM
    // meta — reading must throw, not silently serve an empty base
    assert(new java.io.File(s"$store/_BASE").delete())
    new java.io.File(s"$store/graft_batch=-4/_HWM").delete()
    val gens = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_batch=-"))
    gens.foreach(g => new java.io.File(g, "_HWM").delete())
    val e = intercept[IllegalStateException] {
      BatchStore.read(spark, store).count()
    }
    assert(e.getMessage.contains("refusing to read"))
  }

  test("store compaction: crashed FIRST staging serves intact dirs and self-heals") {
    // A crash during the first-ever compaction's staging (generation
    // dir written, _HWM meta not yet) leaves gens <= -2 with no pointer
    // AND no complete meta — observationally the same as the
    // destroyed-metas state above, but here nothing was ever folded or
    // GC'd. The write-once _PUBLISHED sentinel (absent: no publish ever
    // happened) is what lets the reader serve the intact batch dirs
    // instead of bricking the store — the throw would also block
    // compact() itself, so not even the healing path could run.
    val root = Dsl.tempDir("dedup_firststage")
    val store = s"$root/store"
    def sigs(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), numHashes = 32)
    Seq(Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
        Seq(2L -> "one two three four five six seven eight nine"),
        Seq(3L -> "red orange yellow green blue indigo violet white"))
      .zipWithIndex.foreach { case (b, i) =>
        sigs(b).write.mode("overwrite").parquet(s"$store/graft_batch=$i")
      }
    // simulate the crash: a staged-but-incomplete generation, no _HWM,
    // no _BASE, no _PUBLISHED (the first publish never ran)
    sigs(Seq(42L -> "half staged first generation from a crash"))
      .write.mode("overwrite").parquet(s"$store/graft_batch=-2")
    def liveIds(): Set[Long] = BatchStore.read(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(liveIds() == Set(1L, 2L, 3L),
      "crashed first staging must serve the intact batch dirs " +
        "(nothing was folded) and exclude the dead staging")
    assert(BatchStore.liveBatchCount(spark, store) == 3)
    // the healing path must be runnable in this state: compact
    // overwrites the dead staging and publishes for real
    val rep = BatchStore.compact(spark, store, keepBatches = 1)
    assert(rep.gen == 2L && rep.foldedBatches == Seq(0L, 1L),
      s"heal compact built the wrong generation: $rep")
    assert(liveIds() == Set(1L, 2L, 3L))
    assert(new java.io.File(s"$store/_PUBLISHED").exists(),
      "first publish must create the write-once sentinel")
  }

  test("store compaction: a pre-sentinel store gains fail-closed on first read") {
    // A store compacted by code that predates the _HWM meta and the
    // _PUBLISHED sentinel has only its _BASE pointer as evidence of the
    // publish. Reading it through its pointer must HEAL the missing
    // sentinel, so that a subsequent pointer loss (the clobber-fallback
    // crash window the recovery protocol exists for) throws instead of
    // silently serving only the un-folded batch dirs — the scaladoc's
    // once-published-never-fails-open promise extended to legacy
    // stores the current code has read at least once.
    val root = Dsl.tempDir("dedup_legacy")
    val store = s"$root/store"
    def sigs(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), numHashes = 32)
    Seq(Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
        Seq(2L -> "one two three four five six seven eight nine"),
        Seq(3L -> "red orange yellow green blue indigo violet white"))
      .zipWithIndex.foreach { case (b, i) =>
        sigs(b).write.mode("overwrite").parquet(s"$store/graft_batch=$i")
      }
    BatchStore.compact(spark, store, keepBatches = 1)
    // strip the modern metadata, leaving exactly what the pre-sentinel
    // code wrote: generation dirs + _BASE pointer
    assert(new java.io.File(s"$store/_PUBLISHED").delete())
    assert(new java.io.File(s"$store/graft_batch=-2/_HWM").delete())
    def liveIds(): Set[Long] = BatchStore.read(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    // the pointer still resolves; the read must stamp the sentinel back
    assert(liveIds() == Set(1L, 2L, 3L))
    assert(new java.io.File(s"$store/_PUBLISHED").exists(),
      "first pointer read of a pre-sentinel store must heal the sentinel")
    // now the crash window: pointer lost, no recoverable _HWM — the
    // healed sentinel is what turns this from silent data loss (serving
    // batch dirs only) into the documented fail-closed throw
    assert(new java.io.File(s"$store/_BASE").delete())
    val e = intercept[IllegalStateException] {
      BatchStore.read(spark, store).count()
    }
    assert(e.getMessage.contains("refusing to read"))
  }

  test("store compaction: keepBatches = 0 is refused (replay idempotence)") {
    // keepBatches >= 1 is what keeps the replay-eligible newest batch
    // dir unfolded — folding it would let a crash-replay append its
    // rows beside the base copy
    val e = intercept[IllegalArgumentException] {
      BatchStore.compact(spark,
        Dsl.tempDir("cmp_k0") + "/store",
        keepBatches = 0)
    }
    assert(e.getMessage.contains("replay idempotence"))
  }

  test("ledger: randomized batchings converge to the batching-blind labeling") {
    // 4 seeded trials: random duplicate groups randomly split across
    // random batch counts (clean batches included, exercising the
    // fast path beside the fold), two drains with the drain-start
    // ledger compaction policy in the loop. The published labeling
    // must equal the closed form — every doc labeled with the min
    // doc_id of its exact-text group — no matter how the corpus was
    // batched, folded, or compacted.
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 4) {
      val root = Dsl.tempDir(s"ledg_rand$trial")
      val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
      // duplicate groups: each group shares one exact text
      val nGroups = 4 + rnd.nextInt(4)
      val groupTexts = (0 until nGroups).map(g =>
        s"group $g sentence trial $trial " +
          (0 until 8).map(i => s"w${g}_${rnd.nextInt(50)}_$i").mkString(" "))
      var nextId = 0L
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String, Int)]()
      for (g <- 0 until nGroups; _ <- 0 to rnd.nextInt(3)) {
        nextId += 1; docs += ((nextId, groupTexts(g), g))
      }
      // plus unique docs that must stay singletons
      for (_ <- 0 until 4 + rnd.nextInt(4)) {
        nextId += 1
        docs += ((nextId,
          s"unique doc $nextId trial $trial " +
            (0 until 8).map(i => s"u${nextId}_$i").mkString(" "), -1))
      }
      val expected = docs.groupBy { case (id, text, _) => text }
        .values.flatMap { grp =>
          val m = grp.map(_._1).min; grp.map(d => d._1 -> m) }.toMap
      // random batch split over two drains
      val shuffled = rnd.shuffle(docs.toSeq).map(d => (d._1, d._2))
      val cut = shuffled.length / 2
      var fileNo = 0
      def writeFiles(rows: Seq[(Long, String)]): Unit = {
        var rest = rows
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(4)
          writeBatch(watch, f"b$fileNo%03d.parquet", rest.take(take))
          fileNo += 1; rest = rest.drop(take); Thread.sleep(5)
        }
      }
      def drain(): Unit = {
        val stream = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(watch)
        DedupStream.admitDocuments(stream, s"$root/store",
            s"$root/verdicts", s"$root/ckpt",
            labelsDir = Some(s"$root/labels"),
            compactWhenBatchesExceed = Some(2))
          .awaitTermination()
      }
      writeFiles(shuffled.take(cut)); drain()
      writeFiles(shuffled.drop(cut)); drain()
      val got = DeltaLedger.read(spark, s"$root/labels")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial: batched labeling diverged\n got: $got\n want: $expected")
    }
  }

  test("store compaction: randomized fold schedules preserve the live set") {
    // 6 seeded trials: random batch count / row spread / keepBatches /
    // compaction points — the live row set must be invariant through
    // every fold, and a final compaction must leave base + kept dirs.
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 6) {
      val root = Dsl.tempDir(s"cmp_rand$trial")
      val store = s"$root/store"
      var nextId = 0L
      var expected = Set.empty[Long]
      def writeBatchDir(batch: Int): Unit = {
        val n = 1 + rnd.nextInt(4)
        val rows = (0 until n).map { _ =>
          nextId += 1; expected += nextId
          (nextId, s"text for row $nextId of trial $trial")
        }
        graft.dedup.Dedup.minhashSignatures(rows.toDF("doc_id", "text"),
            col("doc_id"), col("text"), numHashes = 8)
          .write.mode("overwrite").parquet(s"$store/graft_batch=$batch")
      }
      def live(): Set[Long] = BatchStore.read(spark, store)
        .select("id").collect().map(_.getLong(0)).toSet
      val nBatches = 3 + rnd.nextInt(5)
      for (b <- 0 until nBatches) {
        writeBatchDir(b)
        if (rnd.nextInt(3) == 0) {
          BatchStore.compact(spark, store, keepBatches = 1 + rnd.nextInt(2))
          assert(live() == expected, s"trial $trial mid-fold divergence")
        }
      }
      BatchStore.compact(spark, store, keepBatches = 1)
      assert(live() == expected, s"trial $trial final divergence")
      val dirs = new java.io.File(store).listFiles()
        .map(_.getName).count(_.startsWith("graft_batch="))
      assert(dirs <= 3, s"trial $trial left $dirs dirs after final fold")
    }
  }

  test("streaming SEMANTIC admission matches the unrolled batch-mode " +
       "embeddingIncremental replay, and a crash-replayed batch converges") {
    val dim = 8
    def axis(a: Int): Seq[Float] =
      (0 until dim).map(d => if (d == a) 1f else 0f)
    val b0 = Seq(1L -> axis(0), 2L -> axis(1))
    val b1 = Seq(3L -> axis(0), 4L -> axis(2))            // 3 dups 1
    val b2 = Seq(5L -> axis(2), 6L -> axis(3), 7L -> axis(3)) // 5→4, 7→6
    val root = Dsl.tempDir("sem_stream")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeVecBatch(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val stage = Dsl.tempDir("sem_stage")
      rows.toDF("doc_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    writeVecBatch("b0.parquet", b0); Thread.sleep(20)
    writeVecBatch("b1.parquet", b1); Thread.sleep(20)
    writeVecBatch("b2.parquet", b2)
    def mkStream() = spark.readStream
      .schema("doc_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val ckpt = s"$root/ckpt"
    def drain(): Unit = DedupStream.admitVectors(mkStream(), s"$root/store",
        s"$root/verdicts", ckpt, planes = 4, minCosine = 0.95, dim = dim)
      .awaitTermination()
    drain()
    def got(): Map[Long, (String, Long)] = spark.read
      .parquet(s"$root/verdicts").select("doc_id", "verdict", "dup_of")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val first = got()
    assert(first === Map(1L -> ("admit", -1L), 2L -> ("admit", -1L),
      3L -> ("reject", 1L), 4L -> ("admit", -1L), 5L -> ("reject", 4L),
      6L -> ("admit", -1L), 7L -> ("reject", 6L)), s"verdicts: $first")
    def storedIds(): Set[Long] = BatchStore.read(spark, s"$root/store")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(storedIds() === Set(1L, 2L, 4L, 6L))
    // batch parity: the same waves through embeddingIncremental unrolled
    var corpus = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    val replayed = Seq(b0, b1, b2).flatMap { batch =>
      val delta = batch.toDF("id", "v")
      val v = Dedup.embeddingIncremental(corpus, delta, planes = 4,
          minCosine = 0.95, dim = dim)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      val admitted = v.filter(_._2._1 == "admit").map(_._1).toSet
      corpus = corpus.unionByName(
        batch.filter(t => admitted(t._1)).toDF("id", "v"))
      v
    }.toMap
    assert(replayed === first, "stream diverged from batch-mode replay")
    // crash-replay: drop the last commit, re-drain — verdicts and store
    // must converge (the replayed batch excludes its own first attempt)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    drain()
    assert(got() === first, "replayed semantic verdicts diverged")
    assert(storedIds() === Set(1L, 2L, 4L, 6L))
  }

  test("semantic admission kindCol: a vector duplicating only content " +
       "its own batch deletes is admitted; the store tombstones; " +
       "crash-replay converges") {
    val dim = 8
    def axis(a: Int): Seq[Float] =
      (0 until dim).map(d => if (d == a) 1f else 0f)
    val root = Dsl.tempDir("sem_sdel")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    def writeVecBatch(name: String,
                      rows: Seq[(String, Long, Option[Seq[Float]])]): Unit = {
      val stage = Dsl.tempDir("sem_sdel_stage")
      rows.toDF("kind", "doc_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    writeVecBatch("b0.parquet", Seq(
      ("add", 1L, Some(axis(0))), ("add", 2L, Some(axis(1)))))
    Thread.sleep(20)
    // wave 1 deletes vector 1 AND adds its duplicate 7 — the pre-mask
    // must admit 7 (post-takedown verdicts)
    writeVecBatch("b1.parquet", Seq(
      ("del", 1L, None), ("add", 7L, Some(axis(0)))))
    def mkStream() = spark.readStream
      .schema("kind STRING, doc_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val ckpt = s"$root/ckpt"
    def drain(): Unit = DedupStream.admitVectors(mkStream(), s"$root/store",
        s"$root/verdicts", ckpt, planes = 4, minCosine = 0.95, dim = dim,
        kindCol = Some("kind"))
      .awaitTermination()
    drain()
    def verdicts(): Map[Long, String] = spark.read
      .parquet(s"$root/verdicts").select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def live(): Set[Long] = {
      val ids = BatchStore.read(spark, s"$root/store").select("id")
      ids.join(BatchStore.readDeletes(spark, s"$root/store"),
          col("id") === col("del_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    }
    val first = verdicts()
    assert(first === Map(1L -> "admit", 2L -> "admit", 7L -> "admit"),
      s"vector 7 duplicates only deleted content: $first")
    assert(live() === Set(2L, 7L))
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    drain()
    assert(verdicts() === first, "replayed semantic-delete verdicts diverged")
    assert(live() === Set(2L, 7L))
  }
}
