package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Late-data accounting: stragglers older than the advancing high-water
  * mark minus the delay land in the late sink with lineage, nothing is
  * silently dropped (null event times included), and totals are
  * conserved. */
class LateDataSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(Long, Option[Long])]): Unit = {
    val stage = Dsl.tempDir("late_stage")
    rows.map { case (id, sec) =>
      (id, sec.map(s => new Timestamp(s * 1000)).orNull)
    }.toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  test("stragglers and null timestamps are accounted, totals conserved") {
    val root = Dsl.tempDir("late_stream")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val base = 1000000L
    // batch0 advances the mark to base+600; batch1 carries one row 300s
    // older than (mark - 120s delay), one on-time row, and one NULL
    // event time; batch2's straggler is within the delay → on time
    writeBatch(watch, "b0.parquet",
      Seq((1L, Some(base)), (2L, Some(base + 600))))
    Thread.sleep(20)
    writeBatch(watch, "b1.parquet",
      Seq((3L, Some(base + 180)), (4L, Some(base + 700)), (7L, None)))
    Thread.sleep(20)
    writeBatch(watch, "b2.parquet",
      Seq((5L, Some(base + 620)), (6L, Some(base + 800))))

    val rows = spark.readStream
      .schema("id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    LateData.splitLate(rows, "ts", delaySeconds = 120,
      s"$root/main", s"$root/late", s"$root/state", s"$root/ckpt")
      .awaitTermination()

    val main = spark.read.parquet(s"$root/main")
      .select("id").as[Long].collect().toSet
    val late = spark.read.parquet(s"$root/late")
      .select(col("id"), col("graft_batch").cast("long"),
        col("late_by_sec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // row 3 is late: threshold at batch1 = (base+600) - 120; 3 is at
    // base+180 → 300s late. Row 7's null ts is accounted late with null
    // lateness. Row 5 (base+620 vs threshold base+580) is on time.
    assert(main == Set(1L, 2L, 4L, 5L, 6L))
    assert(late == Set((3L, 1L, 300L), (7L, 1L, -1L)))
    assert(main.size + late.size == 7, "nothing silently dropped")
  }

  test("first batch has no mark: valid rows on time, per-batch layout") {
    val root = Dsl.tempDir("late_first")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeBatch(watch, "b0.parquet", Seq((1L, Some(5000L)), (2L, Some(100L))))
    val rows = spark.readStream.schema("id LONG, ts TIMESTAMP").parquet(watch)
    LateData.splitLate(rows, "ts", 60, s"$root/main", s"$root/late",
      s"$root/state", s"$root/ckpt").awaitTermination()
    assert(spark.read.parquet(s"$root/main").count() == 2)
    assert(!Files.exists(Paths.get(s"$root/late")))
    // per-batch subdir layout: a replay overwrites, never re-appends
    assert(Files.exists(Paths.get(s"$root/main/graft_batch=0")))
  }

  test("lost mark pointer recovers from the sinks, not MinValue") {
    val root = Dsl.tempDir("late_recover")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    writeBatch(watch, "b0.parquet", Seq((1L, Some(10000L))))
    val rows = spark.readStream.schema("id LONG, ts TIMESTAMP").parquet(watch)
    LateData.splitLate(rows, "ts", 60, s"$root/main", s"$root/late",
      s"$root/state", s"$root/ckpt").awaitTermination()
    // simulate the clobber-window loss
    Files.delete(Paths.get(s"$root/state/MAX_TS"))
    // a second drain with an ancient row must still classify it late
    writeBatch(watch, "b1.parquet", Seq((2L, Some(100L))))
    LateData.splitLate(
      spark.readStream.schema("id LONG, ts TIMESTAMP").parquet(watch),
      "ts", 60, s"$root/main", s"$root/late", s"$root/state",
      s"$root/ckpt").awaitTermination()
    val late = spark.read.parquet(s"$root/late").select("id").as[Long]
      .collect().toSet
    assert(late == Set(2L), "mark re-derived from sinks, not reset")
  }
}
