package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main runs in.
  *
  * `SPARK_GRAFT_CPUS` sets the local thread count (default: every
  * available processor) and `SPARK_GRAFT_SHUFFLE` the shuffle-partition
  * count (default: the thread count). A count above the cores is for
  * scale studies: pair-heavy bucket self-joins (hyperplane LSH at 10⁶+
  * vectors) need partitions finer than 1×cores, or a couple of hot
  * buckets serialize into a multi-minute straggler tail that AQE, blind
  * to per-row cost, cannot split; AQE coalesces the small partitions,
  * so a higher count costs little elsewhere.
  *
  * The session is UTC (timestamp queries drift against DuckDB
  * otherwise); reads events.parquet's INT64 TIMESTAMP(NANOS) as long,
  * set once here so no query body mutates shared session conf; writes
  * µs timestamps instead of INT96, which pyarrow surfaces as
  * timestamp[ns] next to DuckDB's timestamp[us] and which can defeat
  * the hash compare; and runs without the UI at log level WARN. */
object GraftSession {
  lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
