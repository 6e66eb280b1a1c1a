package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import graft.ops.Sampling
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming weighted-sample maintenance: the maintained state equals
  * batch-mode priority sampling over everything seen (mergeability),
  * and a crash-replayed batch folds idempotently. */
class SampleStreamSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(Long, Long)]): Unit = {
    val stage = Dsl.tempDir("ssam_stage")
    rows.toDF("doc_id", "weight").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  test("maintained sample equals batch weightedSample over the union") {
    val root = Dsl.tempDir("ssam")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val batches = Seq(
      (1L to 40L).map(i => (i, i % 7 + 1)),
      (41L to 80L).map(i => (i, i % 11 + 1)),
      (81L to 120L).map(i => (i, i % 5 + 1)))
    batches.zipWithIndex.foreach { case (b, i) =>
      writeBatch(watch, s"b$i.parquet", b); Thread.sleep(20)
    }
    def mkStream() = spark.readStream
      .schema("doc_id LONG, weight LONG")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    val ckpt = s"$root/ckpt"
    SampleStream.maintainSample(mkStream(), s"$root/state", ckpt,
      k = 15, salt = "sp", idCol = "doc_id", weightCol = "weight")
      .awaitTermination()
    // state schema carries weight as double (the weightedSample cast)
    def state(): Set[(Long, Long)] =
      ViewMaintenance.readLatest(spark, s"$root/state").get
        .collect().map(r => (r.getLong(0), r.getDouble(1).toLong)).toSet
    val expected = Sampling.weightedSample(
        batches.flatten.toDF("sample_id", "weight"),
        col("sample_id"), col("weight"), 15, "sp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state() == expected,
      "streamed sample diverged from batch priority sampling")

    // crash-replay: drop the last commit marker, restart — the replayed
    // batch detects its published snapshot and the state is unchanged
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    SampleStream.maintainSample(mkStream(), s"$root/state", ckpt,
      k = 15, salt = "sp", idCol = "doc_id", weightCol = "weight")
      .awaitTermination()
    assert(state() == expected, "replayed fold changed the sample")
  }

  test("fractional weights in (0,1) survive the fold (double state schema)") {
    // the regression: a long-cast state schema floored these to 0 and
    // the fold then failed loudly on the non-positive-weight guard;
    // the double schema must keep the exact weightedSample identity
    val root = Dsl.tempDir("ssam_frac")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val batches = Seq(
      (1L to 30L).map(i => (i, (i % 9 + 1) / 10.0)),
      (31L to 60L).map(i => (i, (i % 13 + 1) / 8.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = Dsl.tempDir("ssam_frac_stage")
      b.toDF("doc_id", "weight").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, s"b$i.parquet"))
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema("doc_id LONG, weight DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(watch)
    SampleStream.maintainSample(stream, s"$root/state", s"$root/ckpt",
      k = 12, salt = "fw", idCol = "doc_id", weightCol = "weight")
      .awaitTermination()
    val got = ViewMaintenance.readLatest(spark, s"$root/state").get
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = Sampling.weightedSample(
        batches.flatten.toDF("sample_id", "weight"),
        col("sample_id"), col("weight"), 12, "fw")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == expected,
      "fractional-weight streamed sample diverged from batch sampling")
  }
}
