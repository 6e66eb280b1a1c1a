package graft.ops

import graft.queries.Dsl
import graft.SparkSpec
import graft.ops.IncrementalAgg.Measure
import org.apache.spark.sql.functions._

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val measures = Seq(
    Measure("s", "sum", col("v").cast("decimal(18,2)")),
    Measure("n", "count", lit(1)),
    Measure("lo", "min", col("v")),
    Measure("hi", "max", col("v")))

  private def snap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4))).toSet

  test("merge of split states equals state of the whole, any split") {
    val data = Seq(("a", 1.5), ("a", 2.25), ("b", 10.0), ("a", 3.0),
      ("c", -1.0), ("b", 0.5))
    val df = data.toDF("k", "v")
    val whole = IncrementalAgg.state(df, Seq(col("k")), measures)
    for (cut <- 0 to data.size) {
      val parts = Seq(data.take(cut), data.drop(cut))
        .map(p => IncrementalAgg.state(
          p.toDF("k", "v"), Seq(col("k")), measures))
      val merged = IncrementalAgg.merge(parts, Seq("k"), measures)
      // decimal widens on re-merge (28,2 → 38,2): compare values
      assert(snap(merged.select(col("k"), col("s").cast("decimal(28,2)"),
        col("n"), col("lo"), col("hi"))) == snap(whole.select(col("k"),
        col("s").cast("decimal(28,2)"), col("n"), col("lo"), col("hi"))))
    }
  }

  test("merge is associative: ((a+b)+c) == (a+(b+c))") {
    val batches = Seq(
      Seq(("a", 1.0), ("b", 2.0)),
      Seq(("a", 3.0)),
      Seq(("b", 4.0), ("c", 5.0)))
      .map(b => IncrementalAgg.state(b.toDF("k", "v"), Seq(col("k")), measures))
    val left = IncrementalAgg.merge(
      Seq(IncrementalAgg.merge(batches.take(2), Seq("k"), measures),
        batches(2)), Seq("k"), measures)
    val right = IncrementalAgg.merge(
      Seq(batches(0),
        IncrementalAgg.merge(batches.drop(1), Seq("k"), measures)),
      Seq("k"), measures)
    def v(df: org.apache.spark.sql.DataFrame) =
      snap(df.select(col("k"), col("s").cast("decimal(28,2)"), col("n"),
        col("lo"), col("hi")))
    assert(v(left) == v(right))
  }

  test("state round-trips through parquet unchanged") {
    val df = Seq(("a", 1.25), ("b", 2.0), ("a", 0.75)).toDF("k", "v")
    val st = IncrementalAgg.state(df, Seq(col("k")), measures)
    val dir = Dsl.tempDir("inc_agg")
    st.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(snap(back) == snap(st))
    // parquet relaxes count(*)'s non-null flag; names and types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      st.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("keys present in only one batch survive the merge") {
    val a = IncrementalAgg.state(Seq(("only_a", 1.0)).toDF("k", "v"),
      Seq(col("k")), measures)
    val b = IncrementalAgg.state(Seq(("only_b", 2.0)).toDF("k", "v"),
      Seq(col("k")), measures)
    val m = IncrementalAgg.merge(Seq(a, b), Seq("k"), measures)
    assert(m.select("k").as[String].collect().toSet == Set("only_a", "only_b"))
  }

  test("unmergeable measure kinds are rejected") {
    intercept[IllegalArgumentException] {
      Measure("bad", "avg", col("v"))
    }
  }
}
