package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Layout invariants for the sink demos — the properties the DuckDB
  * value-gate can't observe: partition pruning at the file index and the
  * compacted layout's file count. */
class SinkQueriesSpec extends SparkSpec {

  test("every sink query runs, returns rows, and has an oracle") {
    SinkQueries.all.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
    assert(SinkQueries.oracles.keySet == SinkQueries.all.keySet)
  }

  test("partitioned layout prunes to the queried days at the file index") {
    val out = Dsl.tempDir("graft_prune_")
    graft.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("day") === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"), plan)
    // every file the scan would read sits under the one matching day dir
    val files = pruned.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(_.contains("day=2024-01-02")),
      s"scan read outside the pruned partition: ${files.take(3).mkString(", ")}")
  }

  test("compaction reduces the fragmented layout to few right-sized files") {
    // run the query's own layout pipeline at sf0.001 and count real files
    val root = Dsl.tempDir("graft_compact_")
    val slice = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
    slice.repartition(128).write.mode("overwrite").parquet(s"$root/frag")
    val frag = spark.read.parquet(s"$root/frag")
    assert(frag.inputFiles.length > 100, "fragmented layout should be fragmented")
    frag.repartition(2).write.mode("overwrite").parquet(s"$root/comp")
    val comp = spark.read.parquet(s"$root/comp")
    assert(comp.inputFiles.length <= 2)
    assert(comp.count() == slice.count())
  }
}
