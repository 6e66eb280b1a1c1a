package graft.streaming

import graft.queries.Dsl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.{SparkSpec, Tables}
import graft.functions.VectorFns
import graft.similarity.Similarity

/** Contract of the streaming index maintainer: batch parity with the
  * fixed-centroid encoder, replay idempotence of the per-batch store
  * layout, and fail-closed behavior on a missing quantizer. */
class IndexStreamSpec extends SparkSpec {

  private def tmp(p: String) = Dsl.tempDir(p)

  /** Delta rows written as `k` single-file ordered batches. */
  private def orderedBatches(df: DataFrame, k: Int): String = {
    val watch = tmp("ixwatch")
    val base = System.currentTimeMillis() - 3600L * 1000
    (0 until k).foreach { i =>
      val stage = tmp("ixstage")
      df.filter(col("vec_id") % k === i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 2000L)
    }
    watch
  }

  private def listsOf(dir: String): Set[(Long, Long, Seq[Int])] =
    spark.read.parquet(dir).select("cand_id", "cent_id", "code")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toSeq)).toSet

  test("maintain: end-state store equals the fixed-centroid batch encode") {
    val emb = Tables.embeddings(spark, sf)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val root = tmp("ixroot")
    val (cent, lists0) = Similarity.ivfBuildQuantized(standing, 16, 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists0.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
    val watch = orderedBatches(delta, 3)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
      tmp("ixckpt")).awaitTermination()

    val storedCent = spark.read.parquet(root + "/centroids")
    val direct = Similarity.ivfAssign(
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        storedCent)
      .withColumn("scale", VectorFns.quantize_scale(col("cv")))
      .withColumn("code", VectorFns.quantize_i8(col("cv"), col("scale")))
      .select("cand_id", "cent_id", "code")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
    assert(listsOf(root + "/lists") === direct,
      "streamed store diverged from the fixed-centroid batch encode")
  }

  test("maintain: replay with a fresh checkpoint overwrites, never duplicates") {
    val emb = Tables.embeddings(spark, sf)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val root = tmp("ixroot2")
    val (cent, lists0) = Similarity.ivfBuildQuantized(standing, 16, 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists0.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
    val watch = orderedBatches(delta, 3)
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(watch)
      IndexStream.maintainIndex(stream, root + "/centroids",
        root + "/lists", tmp("ixckpt2")).awaitTermination()
    }
    drain()
    val first = listsOf(root + "/lists")
    drain() // full replay: same batch ids, overwrite-by-subdir
    assert(listsOf(root + "/lists") === first,
      "replay duplicated or mutated list rows")
    assert(first.size === emb.count(),
      "store must hold exactly one row per corpus vector")
  }

  test("continuous mode: mid-stream restart lands the same store as a drain") {
    val emb = Tables.embeddings(spark, sf)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    def prep(tag: String): String = {
      val root = tmp(tag)
      val (cent, lists0) = Similarity.ivfBuildQuantized(standing, 16, 2)
      cent.write.mode("overwrite").parquet(root + "/centroids")
      lists0.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
      root
    }
    def mkStream(watch: String) = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    def writeSlice(watch: String, name: String, i: Int): Unit = {
      val stage = tmp("ixslice")
      delta.filter(col("vec_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watch, name).toPath)
    }

    // continuous run, stop BETWEEN deliveries, resume from checkpoint
    val rootC = prep("ixcontC")
    val watchC = tmp("ixcontWatch"); val ckptC = tmp("ixcontCkpt")
    writeSlice(watchC, "b0.parquet", 0)
    val q1 = IndexStream.maintainIndex(mkStream(watchC), rootC + "/centroids",
      rootC + "/lists", ckptC, continuous = true)
    q1.processAllAvailable()
    q1.stop()
    writeSlice(watchC, "b1.parquet", 1)
    writeSlice(watchC, "b2.parquet", 2)
    val q2 = IndexStream.maintainIndex(mkStream(watchC), rootC + "/centroids",
      rootC + "/lists", ckptC, continuous = true)
    q2.processAllAvailable()
    q2.stop()

    // one-shot AvailableNow drain of the same slices, fresh state
    val rootA = prep("ixcontA")
    val watchA = tmp("ixcontWatchA")
    (0 until 3).foreach(i => writeSlice(watchA, s"b$i.parquet", i))
    IndexStream.maintainIndex(mkStream(watchA), rootA + "/centroids",
      rootA + "/lists", tmp("ixcontCkptA")).awaitTermination()

    assert(listsOf(rootC + "/lists") === listsOf(rootA + "/lists"),
      "continuous-with-restart store diverged from the AvailableNow drain")
  }

  test("compaction: serve parity before/after, manual base folded in") {
    // Build the t13 shape: a manual -1 base (batch build of the standing
    // corpus) plus three streamed delta batches — then fold with
    // BatchStore.compact and require the SERVE output is identical when
    // read through the compacted layout.
    val emb = Tables.embeddings(spark, sf)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val root = tmp("ixcomp")
    val (cent, lists0) = Similarity.ivfBuildQuantized(standing, 16, 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists0.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
    val watch = orderedBatches(delta, 3)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
      tmp("ixcompckpt")).awaitTermination()

    def serve(): Seq[(Long, Int, Long)] =
      Similarity.ivfServeQuantized(
          emb.filter(col("vec_id") < 8),
          spark.read.parquet(root + "/centroids"),
          BatchStore.read(spark, root + "/lists")
            .select("cand_id", "cent_id", "code"),
          emb, 5, nprobe = 4, rescoreK = 15)
        .select("query_id", "rank", "cand_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        .sorted
    val before = serve()
    val liveBefore = BatchStore.read(spark, root + "/lists").count()

    // Fold the manual base + batches 0-1 into generation 2; batch 2 is
    // the kept replay target.
    val rep = BatchStore.compact(spark, root + "/lists", keepBatches = 1)
    assert(rep.gen == 2L && rep.foldedBatches == Seq(0L, 1L))
    val dirs = new java.io.File(root + "/lists").listFiles()
      .map(_.getName).filter(_.startsWith("graft_batch=")).toSet
    assert(dirs == Set("graft_batch=-2", "graft_batch=2"),
      s"manual base not folded: $dirs")
    assert(BatchStore.read(spark, root + "/lists").count() == liveBefore)
    assert(serve() == before,
      "serving from the compacted index diverged from the live layout")
  }

  test("compaction policy: repeated refresh drains keep list dirs bounded") {
    // 4 scheduled refresh drains, 2 delta batches each, threshold 2:
    // the policy fires at drain start, folds old list dirs into a base
    // generation, and the end-state store (read the only correct way,
    // through BatchStore) still equals the fixed-centroid batch encode.
    val emb = Tables.embeddings(spark, sf)
    val standing = emb.filter(col("vec_id") % 9 =!= 8)
    val delta = emb.filter(col("vec_id") % 9 === 8)
      .select("vec_id", "embedding")
    val root = tmp("ixpol")
    val (cent, lists0) = Similarity.ivfBuildQuantized(standing, 16, 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists0.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
    val watch = tmp("ixpolwatch"); val ckpt = tmp("ixpolckpt")
    val base = System.currentTimeMillis() - 3600L * 1000
    var fileNo = 0
    for (drain <- 0 until 4) {
      for (b <- 0 until 2) {
        val stage = tmp("ixpolstage")
        delta.filter(col("vec_id") % 8 === (drain * 2 + b))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(watch, f"b$fileNo%02d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(base + fileNo * 2000L)
        fileNo += 1
      }
      val stream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(watch)
      IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
          ckpt, compactWhenBatchesExceed = Some(2))
        .awaitTermination()
      assert(BatchStore.liveBatchCount(spark, root + "/lists") <= 4,
        s"drain $drain left too many live dirs")
    }
    val dirCount = new java.io.File(root + "/lists").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("graft_batch="))
    assert(dirCount <= 5, s"policy failed to bound the list store: $dirCount")
    val storedCent = spark.read.parquet(root + "/centroids")
    val direct = Similarity.ivfAssign(
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        storedCent)
      .withColumn("scale", VectorFns.quantize_scale(col("cv")))
      .withColumn("code", VectorFns.quantize_i8(col("cv"), col("scale")))
      .select("cand_id", "cent_id", "code")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
    val got = BatchStore.read(spark, root + "/lists")
      .select("cand_id", "cent_id", "code")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
    assert(got === direct,
      "policed store diverged from the fixed-centroid batch encode")
  }

  test("maintain: missing centroid store fails the batch, not silently") {
    val emb = Tables.embeddings(spark, sf)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val watch = orderedBatches(delta, 1)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val q = IndexStream.maintainIndex(stream, tmp("ixempty") + "/nope",
      tmp("ixlists"), tmp("ixckpt3"))
    val e = intercept[StreamingQueryException](q.awaitTermination())
    assert(e.getMessage.contains("centroid store missing") ||
      Option(e.getCause).exists(_.getMessage.contains("centroid store missing")),
      s"unexpected failure: ${e.getMessage}")
  }
}
