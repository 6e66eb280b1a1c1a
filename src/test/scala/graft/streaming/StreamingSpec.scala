package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming semantics tests (SURVEY.md §2.10): watermarked
  * windows, stream/batch agreement, in-stream dedup, two-stage handoff,
  * and stateful sessionization via flatMapGroupsWithState territory
  * covered by the batch analog (t_sessionize oracle query). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  test("tumbling windows over a MemoryStream match the batch analog") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = Seq(
      Ev(1, ts(1), 1, "click", 1.0, "{}"),
      Ev(2, ts(4), 1, "click", 2.0, "{}"),
      Ev(3, ts(7), 2, "view", 3.0, "{}"),
      Ev(4, ts(12), 2, "click", 4.0, "{}"))
    input.addData(events: _*)
    EventStreams.drainToMemory(
      EventStreams.tumblingCounts(input.toDF()), "tumbling_out",
      OutputMode.Complete())
    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = events.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.size == 3) // (00:00 click), (00:05 view), (00:10 click)
  }

  test("hash sampling and split assignment work unchanged on a stream") {
    // the sampling operators are pure map-side expressions, so the same
    // call works on a streaming DF and selects the SAME rows as batch —
    // the property a replayable ingest pipeline needs
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = (1L to 200L).map(i =>
      Ev(i, ts((i % 50).toInt), i % 7, "click", 1.0, "{}"))
    input.addData(events: _*)
    val sampled = graft.ops.Sampling.hashSample(
        input.toDF(), col("event_id"), 0.3, "stream")
      .withColumn("split", graft.ops.Sampling.splitColumn(
        col("event_id"), "sp", Seq("train" -> 0.8, "val" -> 0.2)))
    EventStreams.drainToMemory(sampled, "sampled_out", OutputMode.Append())
    val streamed = spark.table("sampled_out")
      .select("event_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ops.Sampling.hashSample(
        events.toDF(), col("event_id"), 0.3, "stream")
      .withColumn("split", graft.ops.Sampling.splitColumn(
        col("event_id"), "sp", Seq("train" -> 0.8, "val" -> 0.2)))
      .select("event_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("watermark drops events later than the bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // batch 1 advances event time to 00:40 → watermark 00:30
    input.addData(Ev(1, ts(40), 1, "click", 1.0, "{}"))
    // batch 2: an event at 00:05, far behind the watermark
    val q = EventStreams.tumblingCounts(input.toDF()).writeStream
      .format("memory").queryName("wm_out").outputMode(OutputMode.Append())
      .start()
    try {
      q.processAllAvailable()
      input.addData(Ev(2, ts(5), 1, "late", 9.0, "{}"))
      q.processAllAvailable()
      input.addData(Ev(3, ts(55), 1, "click", 1.0, "{}")) // advance + close 00:40 window
      q.processAllAvailable()
      val types = spark.table("wm_out").select("event_type")
        .collect().map(_.getString(0)).toSet
      assert(!types.contains("late"), "late event must be dropped by the watermark")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedupes replayed events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(
      Ev(1, ts(1), 1, "click", 1.0, "{}"),
      Ev(1, ts(1), 1, "click", 1.0, "{}"), // exact replay
      Ev(2, ts(2), 1, "view", 2.0, "{}"))
    EventStreams.drainToMemory(
      EventStreams.dedupedStream(input.toDF()), "dedup_out")
    assert(spark.table("dedup_out").count() == 2)
  }

  test("file-source stream over testdata drains to the batch result") {
    val dir = s"$sf/events.parquet"
    // nanos timestamps aren't streamable either — read via Tables (batch)
    // and compare a file-source stream over a micro-converted copy
    val tmp = Dsl.tempDir("graft_stream")
    Tables.events(spark, sf).write.mode("overwrite").parquet(tmp)
    val streamed = EventStreams.eventsStream(spark, tmp, maxFilesPerTrigger = 2)
    // Complete mode: emit ALL windows at drain end, including the ones the
    // watermark hasn't finalized yet (append mode would hold them in state)
    EventStreams.drainToMemory(
      EventStreams.tumblingCounts(streamed), "file_out", OutputMode.Complete())
    val streamTotal = spark.table("file_out")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(streamTotal == Tables.events(spark, sf).count())
  }

  test("flatMapGroupsWithState sessionization closes sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionizeStateful(input.toDS(), gapSeconds = 300)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 1 min apart (one session), then a 20-min gap
      input.addData(SessionEvent(1, 1, 0L), SessionEvent(1, 2, 60000L))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // still open
      input.addData(SessionEvent(1, 3, 1260000L)) // 20 min later → closes
      q.processAllAvailable()
      val closed = spark.table("sess_out").collect()
      assert(closed.length == 1)
      assert(closed(0).getAs[Int]("n_events") == 2)
      assert(closed(0).getAs[Long]("last_millis") == 60000L)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch attribution rows") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    views.addData(
      Ev(1, ts(1), 1, "view", 1.0, "{}"),   // inside buyer 1's hour
      Ev(2, ts(30), 1, "view", 2.0, "{}"),  // inside
      Ev(3, ts(40), 1, "view", 4.0, "{}"),  // AT the purchase ts: excluded
      Ev(4, ts(5), 2, "view", 8.0, "{}"))   // other user
    purchases.addData(Ev(10, ts(40), 1, "purchase", 50.0, "{}"))
    EventStreams.drainToMemory(
      EventStreams.attributionJoin(views.toDF(), purchases.toDF()),
      "attr_out")
    val got = spark.table("attr_out")
      .select("p_id", "v_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    // exactly the two strictly-before views of the same user
    assert(got == Set((10L, ts(1)), (10L, ts(30))))
  }

  test("two-stage handoff: parse results land in the notes-queue dir") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(Ev(1, ts(1), 1, "click", 1.0, "{}"),
      Ev(2, ts(2), 2, "view", 2.0, "{}"))
    val base = Dsl.tempDir("graft_handoff")
    EventStreams.stageHandoff(
      input.toDF().withColumn("phase", lit("post-parse")),
      s"$base/queue", s"$base/ckpt")
    val stage2 = spark.read.parquet(s"$base/queue")
    assert(stage2.count() == 2)
    assert(stage2.select("phase").distinct().collect()(0).getString(0) == "post-parse")
  }

  test("budgeted drain: stops at the deadline, resumes exactly where it left off") {
    // The reference's time-budget loop: stop launching work once the
    // budget is spent, pick up on the next scheduled run. 6 single-file
    // micro-batches, each sleeping 250 ms in the sink, first drain
    // budgeted at 900 ms — it MUST cut before finishing; the second
    // (unbudgeted) drain must process precisely the uncommitted suffix,
    // and the final output must equal one uninterrupted drain's.
    val root = Dsl.tempDir("graft_budget")
    val watch = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    (0 until 6).foreach { i =>
      val stage = Dsl.tempDir("bud_stage")
      Seq((i.toLong, s"row $i")).toDF("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(System.currentTimeMillis() - (6 - i) * 2000L)
    }
    val log = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream
      .schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/graft_batch=$id")
        log.add(id)
        Thread.sleep(250)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

    val r1 = BudgetedDrain.await(start(), budgetMs = 900)
    assert(r1.cut, "900 ms budget over ~1.5 s of sink sleeps must cut")
    def commits(): Set[Long] = {
      val d = new java.io.File(s"$ckpt/commits")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toLong).toSet
    }
    val committed1 = commits()
    assert(committed1.size < 6, "budgeted drain processed everything anyway")
    assert(committed1 == (0L until committed1.size).toSet,
      s"committed prefix must be contiguous from 0: $committed1")

    log.clear()
    val r2 = BudgetedDrain.await(start(), budgetMs = Long.MaxValue / 4)
    assert(r2.finished, "unbudgeted resume must terminate on its own")
    val run2 = {
      val it = log.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result().toSet
    }
    assert(run2 == (committed1.size.toLong to 5L).toSet,
      s"resume must process exactly the uncommitted suffix: ran $run2, " +
        s"committed before: $committed1")
    assert(commits() == (0L to 5L).toSet)
    val rows = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (0L to 5L).toSeq,
      s"final output must hold each row exactly once: $rows")

    // a third drain finds nothing to do and finishes immediately
    val r3 = BudgetedDrain.await(start(), budgetMs = Long.MaxValue / 4)
    assert(r3.finished)
    assert(spark.read.parquet(out).count() == 6)
  }
}
