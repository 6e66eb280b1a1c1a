package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import graft.ops.IncrementalAgg
import graft.ops.IncrementalAgg.Measure
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming materialized-view maintenance: micro-batches folded into
  * versioned snapshots published through a pointer file must leave
  * exactly `state(all rows)`, and a torn publish must never lose the
  * previous snapshot. */
class ViewMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val measures = Seq(
    Measure("s", "sum", col("v").cast("decimal(18,2)")),
    Measure("n", "count", lit(1)),
    Measure("lo", "min", col("v")),
    Measure("hi", "max", col("v")))

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(String, Double)]): Unit = {
    val stage = Dsl.tempDir("view_stage")
    rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(watchDir, name))
  }

  private def snap(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("s").cast("decimal(38,2)"), col("n"),
      col("lo"), col("hi"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet

  test("3-batch maintained view equals the batch-mode aggregate") {
    val root = Dsl.tempDir("view_stream")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val all = Seq(
      Seq("a" -> 1.5, "b" -> 2.0),
      Seq("a" -> 0.25, "c" -> -3.0),
      Seq("b" -> 4.0, "a" -> 1.0, "c" -> 1.0))
    all.zipWithIndex.foreach { case (b, i) =>
      writeBatch(watch, s"b$i.parquet", b); Thread.sleep(20)
    }
    val rows = spark.readStream
      .schema("k STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    ViewMaintenance.maintain(rows, s"$root/state", s"$root/ckpt",
      Seq("k"), measures).awaitTermination()

    val got = ViewMaintenance.readLatest(spark, s"$root/state").get
    val want = IncrementalAgg.state(all.flatten.toDF("k", "v"),
      Seq(col("k")), measures)
    assert(snap(got) == snap(want))
    // retention: the published snapshot plus at most its predecessor
    // (kept one batch for in-flight readers); older versions retired
    val versions = new java.io.File(s"$root/state").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).sorted
    assert(versions.length <= 2 && versions.last == "v2")
  }

  test("dangling pointer recovers to the highest complete snapshot") {
    val root = Dsl.tempDir("view_recover")
    val state = s"$root/state"
    // two published snapshots on disk
    IncrementalAgg.state(Seq("a" -> 1.0).toDF("k", "v"), Seq(col("k")),
      measures).write.parquet(s"$state/v0")
    IncrementalAgg.state(Seq("a" -> 1.0, "b" -> 2.0).toDF("k", "v"),
      Seq(col("k")), measures).write.parquet(s"$state/v1")
    // pointer torn: names a snapshot that never completed
    Files.write(Paths.get(state, "LATEST"), "v7".getBytes)
    assert(ViewMaintenance.latestSnapshot(spark, state).get.endsWith("/v1"))
    // pointer missing entirely: same recovery
    Files.delete(Paths.get(state, "LATEST"))
    assert(ViewMaintenance.latestSnapshot(spark, state).get.endsWith("/v1"))
    // an incomplete snapshot (no _SUCCESS) is never selected
    Files.createDirectories(Paths.get(state, "v9"))
    assert(ViewMaintenance.latestSnapshot(spark, state).get.endsWith("/v1"))
  }

  test("empty store reads as None, not an error") {
    val root = Dsl.tempDir("view_empty")
    assert(ViewMaintenance.readLatest(spark, s"$root/nope").isEmpty)
  }

  test("deleteFromView retracts via keyed re-aggregation — min/max " +
       "holders recompute from survivors, untouched groups keep their " +
       "rows, and later folds merge onto the post-delete state") {
    val root = Dsl.tempDir("view_delete")
    val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
    val b0 = Seq("a" -> 1.5, "b" -> 2.0, "a" -> 9.0)
    val b1 = Seq("a" -> 0.25, "c" -> -3.0, "b" -> 7.5)
    writeBatch(watch, "b0.parquet", b0); Thread.sleep(20)
    writeBatch(watch, "b1.parquet", b1)
    def mkStream() = spark.readStream
      .schema("k STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(watch)
    val ckpt = s"$root/ckpt"
    ViewMaintenance.maintain(mkStream(), s"$root/state", ckpt,
      Seq("k"), measures).awaitTermination()
    // delete group a's MIN (0.25) and MAX (9.0) — the rows a lazy
    // implementation (subtract-only retraction) cannot unwind — plus
    // ALL of c: its group must vanish from the view entirely
    val dels = Seq("a" -> 0.25, "a" -> 9.0, "c" -> -3.0).toDF("k", "v")
    val survivors = (b0 ++ b1).toDF("k", "v")
      .except(dels) // values are unique across the planted rows
    ViewMaintenance.deleteFromView(spark, s"$root/state", Seq("k"),
      measures, dels, survivors)
    val want = IncrementalAgg.state(survivors, Seq(col("k")), measures)
    assert(snap(ViewMaintenance.readLatest(spark, s"$root/state").get)
      == snap(want), "post-delete view must equal state(survivors)")
    // a LATER fold merges onto the post-delete state
    val b2 = Seq("a" -> 0.5, "c" -> 11.0)
    writeBatch(watch, "b2.parquet", b2)
    ViewMaintenance.maintain(mkStream(), s"$root/state", ckpt,
      Seq("k"), measures).awaitTermination()
    val want2 = IncrementalAgg.state(
      survivors.unionByName(b2.toDF("k", "v")), Seq(col("k")), measures)
    assert(snap(ViewMaintenance.readLatest(spark, s"$root/state").get)
      == snap(want2), "fold after delete must merge onto survivors state")
    // crash-replay of the post-delete fold: drop its commit marker and
    // re-drain — the _FOLDED guard (or prior-name match) must skip the
    // re-fold, not double-count batch 2
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    ViewMaintenance.maintain(mkStream(), s"$root/state", ckpt,
      Seq("k"), measures).awaitTermination()
    assert(snap(ViewMaintenance.readLatest(spark, s"$root/state").get)
      == snap(want2), "replayed fold double-counted batch 2")
    // rerunning the SAME delete converges (admin idempotence)
    ViewMaintenance.deleteFromView(spark, s"$root/state", Seq("k"),
      measures, dels, survivors.unionByName(b2.toDF("k", "v")))
    assert(snap(ViewMaintenance.readLatest(spark, s"$root/state").get)
      == snap(want2), "re-applied delete changed the converged view")
  }

  test("_ids ledger compaction: a takedown against the compacted ledger " +
       "equals the never-compacted takedown, the dir count is bounded, " +
       "and replay converges") {
    val adds = (0L until 12L).map(i => (i, if (i % 2 == 0) "a" else "b",
      i * 1.5))
    val waves = adds.grouped(4).toSeq // 3 add waves
    val delIds = Seq(0L, 5L, 8L) // group minima among the folded rows
    def writeWave(watch: String, name: String,
                  addRows: Seq[(Long, String, Double)],
                  dels: Seq[Long]): Unit = {
      val stage = Dsl.tempDir("view_ids_stage")
      val df = addRows.map { case (id, k, v) =>
          ("add", id, k: String, Double.box(v)) }
        .++(dels.map(id => ("del", id, null: String, null: java.lang.Double)))
        .toDF("kind", "event_id", "k", "v")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(watch, name))
    }
    val corpus = adds.toDF("event_id", "k", "v")
    def run(compactOver: Option[Int]): String = {
      val root = Dsl.tempDir("view_ids")
      val watch = s"$root/in"; Files.createDirectories(Paths.get(watch))
      waves.zipWithIndex.foreach { case (w, i) =>
        writeWave(watch, s"b$i.parquet", w, Nil); Thread.sleep(20)
      }
      writeWave(watch, "b3.parquet", Nil, delIds)
      val stream = spark.readStream
        .schema("kind STRING, event_id BIGINT, k STRING, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(watch)
      ViewMaintenance.maintain(stream, s"$root/state", s"$root/ckpt",
        Seq("k"), measures, kindCol = Some("kind"), idCol = "event_id",
        corpus = Some(corpus), compactIdsOver = compactOver)
        .awaitTermination()
      root
    }
    val plain = run(None)
    val compacted = run(Some(1))
    val want = IncrementalAgg.state(
      corpus.filter(!col("event_id").isin(delIds: _*)),
      Seq(col("k")), measures)
    assert(snap(ViewMaintenance.readLatest(spark, s"$plain/state").get)
      == snap(want))
    assert(snap(ViewMaintenance.readLatest(spark, s"$compacted/state").get)
      == snap(want),
      "takedown against the compacted ledger diverged from the " +
        "never-compacted one")
    // the lifecycle bound: a base generation exists and the live
    // per-batch dir count stayed at keepBatches + the batches since
    // the last fold, not lifetime batch count
    def idDirs(root: String) = new java.io.File(s"$root/state/_ids")
      .listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith(BatchStore.BatchCol + "="))
    assert(idDirs(plain).count(!_.contains("=-")) == 4)
    assert(idDirs(compacted).exists(_.contains("=-")),
      "no compacted base generation was published")
    assert(idDirs(compacted).count(!_.contains("=-")) <= 2,
      s"ledger dirs unbounded: ${idDirs(compacted).mkString(", ")}")
    // crash-replay of the takedown batch: re-applied tombstones, the
    // ledger overwrite, a re-run compaction, and the recomputed splice
    // must all converge
    val ckpt = s"$compacted/ckpt"
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    val stream2 = spark.readStream
      .schema("kind STRING, event_id BIGINT, k STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$compacted/in")
    ViewMaintenance.maintain(stream2, s"$compacted/state", ckpt,
      Seq("k"), measures, kindCol = Some("kind"), idCol = "event_id",
      corpus = Some(corpus), compactIdsOver = Some(1))
      .awaitTermination()
    assert(snap(ViewMaintenance.readLatest(spark, s"$compacted/state").get)
      == snap(want), "replayed takedown batch diverged post-compaction")
  }

  test("pointer-loss fallback follows publish order (mtime), not the " +
       "numeric version max — admin publishes must not shadow later " +
       "batch folds") {
    val root = Dsl.tempDir("view_admin")
    val state = s"$root/state"
    // an ADMIN snapshot (SampleStream.deleteFromSample's far-above-batch
    // version) published FIRST, then a later stream-batch snapshot with
    // a numerically tiny version — the real publish order
    IncrementalAgg.state(Seq("a" -> 1.0).toDF("k", "v"), Seq(col("k")),
      measures).write.parquet(s"$state/v1000000")
    IncrementalAgg.state(Seq("a" -> 1.0, "b" -> 2.0).toDF("k", "v"),
      Seq(col("k")), measures).write.parquet(s"$state/v3")
    val now = System.currentTimeMillis()
    assert(new java.io.File(s"$state/v1000000/_SUCCESS")
      .setLastModified(now - 60000L))
    assert(new java.io.File(s"$state/v3/_SUCCESS").setLastModified(now))
    // no pointer at all: the crash window the fallback exists for — it
    // must resolve the LATEST PUBLISH (v3), or the next fold would
    // silently roll back v3's contribution
    assert(ViewMaintenance.latestSnapshot(spark, state).get.endsWith("/v3"))
  }
}
