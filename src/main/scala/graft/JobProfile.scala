package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement tool (not part of the driver bench contract): run ONE
  * named SparkEntry query and report wall time, Spark JOB count, and
  * the driver gap — wall-clock time inside the query span where ZERO
  * jobs were running (planning/AQE roundtrips, FS metadata, stream
  * machinery). Guide §1.1/§7: the gap share is the diagnostic for
  * driver-bound queries; the round-18 verdict's item-1 "done" criterion
  * is job count and gap share down, which seconds alone cannot show on
  * a bursty host.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.JobProfile <query> [<query> ...]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    @volatile var jobs = 0L
    @volatile var running = 0
    @volatile var idleSince = 0L   // nanos when running hit 0
    @volatile var gapNanos = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized {
          jobs += 1
          if (running == 0 && idleSince > 0)
            gapNanos += System.nanoTime() - idleSince
          running += 1
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        synchronized {
          running -= 1
          if (running == 0) idleSince = System.nanoTime()
        }
    }
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm-up (uncounted)
    try drain(SparkEntry.entry(spark)) catch { case _: Throwable => () }

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[jobprofile] unknown query $name")
        case Some(fn) =>
          spark.catalog.clearCache()
          jobs = 0; gapNanos = 0L
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          idleSince = t0
          drain(fn(spark, sfDir))
          // let straggler listener events land before reading counters
          Thread.sleep(300)
          val wall = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.removeSparkListener(listener)
          val gap = gapNanos / 1e9
          println(f"[jobprofile] $name wall=$wall%.2fs jobs=$jobs " +
            f"gap=$gap%.2fs gap_share=${100.0 * gap / wall}%.1f%%")
      }
    }
    spark.stop()
  }
}
