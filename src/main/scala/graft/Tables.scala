package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md §A). One parquet file per table under the scale-factor dir.
  *
  * At cluster scale these would be catalog tables (partitioned parquet /
  * Delta); the loaders centralize access so the rest of the engine never
  * hard-codes paths and pushdown-friendly scans are the only access path.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` has shipped as both INT64 TIMESTAMP(NANOS) and plain
    * timestamp[us] parquet across testdata generations. Spark 4 refuses
    * nanos natively, so with `nanosAsLong=true` a nanos file surfaces as
    * LongType — integer-divide to micros (the truncation DuckDB applies).
    * A micros file surfaces as TIMESTAMP_NTZ (no tz annotation). Either
    * way the loader's contract is a session-TZ `TimestampType` column
    * (the session TZ is pinned to UTC by every entry point, so the
    * NTZ→LTZ cast is an identity on the stored micros) — downstream
    * `unix_micros`/window logic never sees a generation difference. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Spread a freshly-scanned input across the session's cores before
    * CPU-heavy per-row work (regex fusion, shingle explode, vector
    * scoring, MinHash signing, centroid assignment).
    *
    * The local testdata files are single-row-group parquet — one
    * unsplittable scan partition — and the heavy pipelines are otherwise
    * shuffle-free (broadcast joins preserve partitioning), so without
    * this the whole per-row stage runs on ONE core of the machine. For a
    * batch query partitioning of the input is the caller's contract: on
    * a production cluster the same scan arrives as thousands of splits,
    * so the demo query layer spreads, not the batch operators. Cheap,
    * already-shuffle-free operators (pure projections, sampling gates)
    * deliberately skip it to stay exchange-free.
    *
    * The streaming maintainers spread every micro-batch themselves: a
    * `maxFilesPerTrigger`-paced file-stream batch arrives as ONE scan
    * partition per file at ANY cluster size, and every maintainer's
    * expensive stage is map-side (the aggregation's partial step runs
    * before its exchange) — measured at sf0.1: a ~1.5 s single-task
    * scan→generate→partial-agg stage per admission batch while 31 cores
    * idled. The repartition moves batch-sized bytes, the cheapest term
    * in the loop; round-robin repartition is retry-deterministic
    * (sortBeforeRepartition, on by default) and every downstream
    * consumer is an aggregation or join, so results do not depend on
    * the partitioning. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
