package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Late-data accounting — the dead-letter channel Spark's watermarking
  * does NOT give you: a windowed aggregation silently discards rows
  * older than the watermark, so at 100 TB an upstream clock skew or a
  * stalled partition shows up as nothing at all. This operator splits
  * each micro-batch AGAINST ITS OWN advancing high-water mark before
  * any aggregation: on-time rows land in the main sink, late rows in a
  * late sink tagged with observed lateness, and rows whose event time
  * is NULL or unparseable are accounted in the late sink too
  * (lateness null) — nothing is ever silently dropped.
  *
  * Crash-safety, concretely:
  *  - each batch writes to its own `graft_batch=<id>` subdirectory with
  *    overwrite, so a REPLAYED batch (crash before the stream
  *    checkpoint commit) replaces its own previous attempt instead of
  *    appending duplicates — totals stay conserved across restarts
  *    (the replay may reclassify a row main→late if the mark advanced
  *    before the crash; both subdirs are rewritten, so the final state
  *    is consistent);
  *  - the high-water mark persists via [[StatePointer]]; if the
  *    pointer is lost in the clobber-fallback window, the mark is
  *    RE-DERIVED from the sinks themselves (max event time across
  *    main + late) — the pointer is an optimization, the durable data
  *    is the source of truth, and a lost pointer can never silently
  *    admit arbitrarily late data as on-time.
  * Per batch the work is one max() aggregate and two partitioned
  * filter-writes. Mirrors Spark's own semantics: the threshold is
  * (max event time seen in PRIOR batches) − delay, advancing
  * monotonically. */
object LateData {

  /** The mark plus whether it came from the pointer (false ⇒ it was
    * recovered the expensive way and should be republished even if the
    * current batch can't advance it). Recovery EXCLUDES the replaying
    * batch's own `graft_batch=<batchId>` subdir — the contract is "max
    * event time seen in PRIOR batches", and a crash-then-replay must
    * not let a batch's rows raise the threshold against themselves. */
  private def readMark(spark: SparkSession, stateDir: String,
                       sinkDirs: Seq[String], tsCol: String,
                       batchId: Long): (Long, Boolean) =
    StatePointer.read(spark, stateDir, "MAX_TS").map(v => (v.toLong, true))
      .getOrElse {
        // pointer missing: first run, or lost in the clobber window —
        // recover the true mark from the durable sinks (per-dir
        // filesystem: sinks may live on a different scheme than state)
        val conf = spark.sparkContext.hadoopConfiguration
        val present = sinkDirs.filter { d =>
          val p = new Path(d); p.getFileSystem(conf).exists(p)
        }
        val marks = present.map { d =>
          try {
            val r = spark.read.parquet(d)
              .filter(col("graft_batch") =!= lit(batchId))
              .agg(max(unix_timestamp(col(tsCol).cast("timestamp")))).head()
            if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
          } catch {
            // dir exists but holds no committed files (a crash during
            // the very first write leaves only _temporary/): no data,
            // no mark — recovery must not itself be the crash
            case _: org.apache.spark.sql.AnalysisException => Long.MinValue
          }
        }
        ((Long.MinValue +: marks).max, false)
      }

  /** Split the stream on lateness vs the persistent high-water mark.
    * `rows` must carry a timestamp column `tsCol`; late = event time
    * older than (mark − `delaySeconds`) where the mark is the max event
    * time seen in PRIOR batches. Late rows land in `lateDir` with
    * `late_by_sec` (null for unparseable event times) under a
    * `graft_batch=<id>` partition; everything else lands in `mainDir` the
    * same way. AvailableNow by default; `continuous = true` for a long
    * loop. */
  def splitLate(rows: DataFrame, tsCol: String, delaySeconds: Long,
                mainDir: String, lateDir: String, stateDir: String,
                checkpointDir: String,
                continuous: Boolean = false): StreamingQuery = {
    require(!rows.columns.contains("graft_batch"),
      "input must not carry a graft_batch column (reserved for the " +
        "per-batch sink partitioning)")
    BatchStore.drain(rows, checkpointDir, continuous) { batch =>
      val (spark, batchId) = (batch.spark, batch.id)
      val (mark, fromPointer) =
        readMark(spark, stateDir, Seq(mainDir, lateDir), tsCol, batchId)
      val b = batch.adds.persist()
      val tsSec = unix_timestamp(col(tsCol).cast("timestamp"))
      val isLate =
        if (mark == Long.MinValue) tsSec.isNull
        else tsSec.isNull || tsSec < lit(mark - delaySeconds)
      val lateBy =
        if (mark == Long.MinValue) lit(null).cast("long")
        else when(tsSec.isNull, lit(null).cast("long"))
          .otherwise(lit(mark - delaySeconds) - tsSec)
      b.filter(!isLate)
        .write.mode("overwrite").parquet(s"$mainDir/graft_batch=$batchId")
      val late = b.filter(isLate).withColumn("late_by_sec", lateBy)
      val lateSub = s"$lateDir/graft_batch=$batchId"
      // ONE aggregate serves both the late-emptiness decision and the
      // high-water mark — previously two separate per-batch actions
      val probe = b.agg(max(tsSec), count(when(isLate, lit(1)))).head()
      if (probe.getLong(1) > 0)
        late.write.mode("overwrite").parquet(lateSub)
      else {
        // A replay can reclassify rows late→main (mark re-derived lower
        // after a lost pointer). The main subdir above was overwritten
        // unconditionally; the late subdir must not keep the earlier
        // attempt's rows or they'd exist in BOTH sinks — delete it.
        val p = new Path(lateSub)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val advanced =
        if (probe.isNullAt(0)) mark else math.max(mark, probe.getLong(0))
      // publish when the batch advanced the mark OR when the mark was
      // recovered the expensive way — otherwise an all-null run after
      // a lost pointer re-scans both sinks on every batch forever
      if (advanced != Long.MinValue && (!probe.isNullAt(0) || !fromPointer))
        StatePointer.publish(spark, stateDir, "MAX_TS", advanced.toString)
      b.unpersist()
    }
  }
}
