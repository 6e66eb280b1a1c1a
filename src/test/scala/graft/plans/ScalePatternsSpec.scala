package graft.plans

import graft.queries.Dsl
import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Scale-pattern proofs (SURVEY.md design stance): skew salting and
  * partition-scoped write-back — the two patterns that keep the engine's
  * shapes viable when one key or one partition is 1000× the others. */
class ScalePatternsSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation matches unsalted on a skewed key") {
    // one hot key carrying most rows — the shape that stalls a single
    // reducer at scale
    val skewed = spark.range(0, 10000)
      .select(when(col("id") % 100 =!= 0, lit("hot")).otherwise(
        concat(lit("k"), col("id"))).as("key"),
        (col("id") % 7).cast("double").as("v"))
    val direct = skewed.groupBy("key")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    // two-phase: salt → partial per (key, salt) → final per key
    val salted = skewed
      .withColumn("salt", pmod(hash(col("v")), lit(8)))
      .groupBy("key", "salt").agg(sum("v").as("ps"), count(lit(1)).as("pn"))
      .groupBy("key").agg(sum("ps").as("s"), sum("pn").as("n"))
    val d = direct.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val sa = salted.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(d.keySet == sa.keySet)
    d.foreach { case (k, (s, n)) =>
      assert(math.abs(sa(k)._1 - s) < 1e-6 && sa(k)._2 == n, s"key $k") }
  }

  test("salted replicate join matches the plain join on a skewed key") {
    // 90% of fact rows share key 1; dim has one row per key
    val fact = spark.range(0, 5000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 50)
        .as("k"), (col("id") % 13).cast("double").as("v"), col("id"))
    val dim = spark.range(50).select(col("id").as("k"),
      concat(lit("g"), col("id") % 3).as("grp"))
    val plain = fact.join(dim, Seq("k")).groupBy("grp")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    val salts = 8
    val salted = fact.withColumn("salt", pmod(hash(col("id")), lit(salts)))
      .join(dim.withColumn("salt",
        explode(array((0 until salts).map(lit(_)): _*))), Seq("k", "salt"))
      .groupBy("grp").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val p = plain.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val sa = salted.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(p == sa)
  }

  test("write-back via dynamic partition overwrite touches only changed partitions") {
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val dir = Dsl.tempDir("graft_po") + "/t"
    try {
      // initial tracker: two "sheets" as partitions
      Seq(("s1", 1, "old1"), ("s1", 2, "old2"), ("s2", 1, "keep"))
        .toDF("sheet_name", "row_index", "company_auto")
        .write.partitionBy("sheet_name").parquet(dir)
      // parse results touch only sheet s1 → rewrite only that partition
      val s1 = Seq(("s1", 1, "new1"), ("s1", 2, "new2"))
        .toDF("sheet_name", "row_index", "company_auto")
      s1.write.mode("overwrite").partitionBy("sheet_name").parquet(dir)
      val after = spark.read.parquet(dir)
        .collect().map(r => (r.getAs[String]("sheet_name"),
          r.getAs[Int]("row_index"), r.getAs[String]("company_auto"))).toSet
      assert(after == Set(("s1", 1, "new1"), ("s1", 2, "new2"), ("s2", 1, "keep")))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }
}
