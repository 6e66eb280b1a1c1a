package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import graft.ops.TextCorpus
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming decontamination: per-batch screen against a static
  * benchmark set, clean rows admitted, contaminated rows parked with a
  * provenance token — and the streamed union equal to the batch
  * [[TextCorpus.decontaminate]] over the union of waves. */
class DecontaminateStreamSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(Long, String)]): Unit = {
    val stage = Dsl.tempDir("decon_stage")
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  // Benchmark: two held-out eval docs. w = 3 keeps fixtures short.
  private val bench = Seq(
    100L -> "alpha beta gamma delta epsilon",
    101L -> "zeta eta theta iota kappa")

  private val b0 = Seq(
    1L -> "alpha beta gamma something else entirely", // shares 1 shingle
    2L -> "completely clean words about parquet files and joins")
  private val b1 = Seq(
    3L -> "zeta eta theta iota kappa copied verbatim", // shares 3 shingles
    4L -> "another clean document mentioning spark streaming state")
  private val b2 = Seq(
    5L -> "beta gamma delta and also eta theta iota", // hits both eval docs
    6L -> "the final clean arrival in the last wave")

  test("streamed screen equals the batch decontaminate over the union") {
    val root = Dsl.tempDir("decon_stream")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeBatch(watch, "b0.parquet", b0)
    Thread.sleep(20)
    writeBatch(watch, "b1.parquet", b1)
    Thread.sleep(20)
    writeBatch(watch, "b2.parquet", b2)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    DecontaminateStream.screen(stream, bench.toDF("doc_id", "text"),
      s"$root/admitted", s"$root/flagged", s"$root/ckpt", w = 3)
      .awaitTermination()

    val flagged = spark.read.parquet(s"$root/flagged")
      .select("doc_id", "n_hits", "source", "batch_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
      .toMap
    val admitted = spark.read.parquet(s"$root/admitted")
      .select("doc_id", "batch_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // batch parity: the batch operator over the union of waves must
    // agree doc-for-doc on both the split and the overlap count
    val batch = TextCorpus.decontaminate(
        (b0 ++ b1 ++ b2).toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"),
        col("doc_id"), col("text"), w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.keySet == flagged.keySet ++ admitted.keySet)
    flagged.foreach { case (id, (n, _, _)) => assert(batch(id) == n) }
    admitted.keys.foreach(id => assert(batch(id) == 0L))

    // the fixtures exercise both sinks and a multi-hit doc
    assert(flagged.keySet == Set(1L, 3L, 5L))
    assert(admitted.keySet == Set(2L, 4L, 6L))
    assert(flagged(3L)._1 == 3L)
    assert(flagged(1L)._2 == "decontam:{n_hits=1, w=3}")
    // wave membership rode through to the sinks
    assert(flagged(1L)._3 == 0L && flagged(3L)._3 == 1L && flagged(5L)._3 == 2L)
    assert(admitted(6L) == 2L)
  }

  test("crash replay replaces the batch's sink dirs, never duplicates") {
    val root = Dsl.tempDir("decon_replay")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeBatch(watch, "b0.parquet", b0)
    Thread.sleep(20)
    writeBatch(watch, "b1.parquet", b1)
    Thread.sleep(20)
    writeBatch(watch, "b2.parquet", b2)

    def mkStream() = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    val ckpt = s"$root/ckpt"
    DecontaminateStream.screen(mkStream(), bench.toDF("doc_id", "text"),
      s"$root/admitted", s"$root/flagged", ckpt, w = 3)
      .awaitTermination()

    // crash after the foreachBatch body but before the checkpoint
    // commit: drop the last commit marker and restart — the source
    // re-delivers batch 2, whose per-batch subdir overwrite must
    // REPLACE the first attempt.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    DecontaminateStream.screen(mkStream(), bench.toDF("doc_id", "text"),
      s"$root/admitted", s"$root/flagged", ckpt, w = 3)
      .awaitTermination()

    val flaggedIds = spark.read.parquet(s"$root/flagged")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val admittedIds = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(flaggedIds.toSeq == Seq(1L, 3L, 5L),
      "replayed batch must not duplicate parked rows")
    assert(admittedIds.toSeq == Seq(2L, 4L, 6L),
      "replayed batch must not duplicate admissions")
  }
}
