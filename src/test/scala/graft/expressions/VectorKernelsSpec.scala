package graft.expressions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.functions.VectorFns

/** Bit-parity of the fused vector kernels against the HOF formulations
  * they replaced (kept as `private[graft]` *Hof builders): same
  * left-to-right double folds ⇒ identical doubles, including the
  * null/length-mismatch corners the HOF null rules imply. Randomized
  * inputs + adversarial corners; generated (codegen) vs interpreted
  * parity rides the same assertions because the comparison projection
  * contains both expression trees. */
class VectorKernelsSpec extends SparkSpec {

  private def mkRows(dim: Int, n: Int, withNulls: Boolean) = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { i =>
      val a = (0 until dim).map { j =>
        if (withNulls && rnd.nextInt(17) == 0) null
        else java.lang.Float.valueOf((rnd.nextGaussian() * (j + 1)).toFloat)
      }
      val b = (0 until dim).map { j =>
        if (withNulls && rnd.nextInt(17) == 0) null
        else java.lang.Float.valueOf((rnd.nextGaussian() - 0.1 * j).toFloat)
      }
      (i.toLong, a, b)
    }
  }

  private def vecDf(dim: Int, n: Int, withNulls: Boolean = false) = {
    import spark.implicits._
    mkRows(dim, n, withNulls).toDF("id", "a", "b")
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame,
                         fused: org.apache.spark.sql.Column,
                         hof: org.apache.spark.sql.Column): Unit = {
    val bad = df.select(fused.as("f"), hof.as("h"))
      .where(!(col("f") <=> col("h"))).count()
    assert(bad == 0L, "fused kernel diverged from the HOF formulation")
  }

  test("dot: fused == HOF on random floats (bit-exact)") {
    val df = vecDf(64, 500)
    assertSame(df, VectorFns.dot(col("a"), col("b")),
      VectorFns.dotHof(col("a"), col("b")))
  }

  test("dot: null elements and length mismatch null the result") {
    val df = vecDf(16, 300, withNulls = true)
      .withColumn("short", slice(col("b"), 1, 7))
    assertSame(df, VectorFns.dot(col("a"), col("b")),
      VectorFns.dotHof(col("a"), col("b")))
    assertSame(df, VectorFns.dot(col("a"), col("short")),
      VectorFns.dotHof(col("a"), col("short")))
    // whole-array null
    val dfn = df.withColumn("a",
      when(col("id") % 3 === 0, lit(null)).otherwise(col("a")))
    assertSame(dfn, VectorFns.dot(col("a"), col("b")),
      VectorFns.dotHof(col("a"), col("b")))
  }

  test("cosine: fused == HOF, including zero-norm and null guard corners") {
    import spark.implicits._
    val base = mkRows(32, 300, withNulls = true)
    // plant zero vectors on each side and empty arrays
    val rows = base ++ Seq(
      (1000L, Seq.fill(32)(java.lang.Float.valueOf(0f)),
        base.head._3),
      (1001L, base.head._2, Seq.fill(32)(java.lang.Float.valueOf(0f))),
      (1002L, Seq.empty[java.lang.Float], Seq.empty[java.lang.Float]),
      // null elements on one side + zero norm on the other: the
      // three-valued OR guard must still yield 0.0
      (1003L, Seq[java.lang.Float](null, 1f, 2f),
        Seq.fill(3)(java.lang.Float.valueOf(0f))))
    val df = rows.toDF("id", "a", "b")
    assertSame(df, VectorFns.cosine(col("a"), col("b")),
      VectorFns.cosineHof(col("a"), col("b")))
  }

  test("cosine: fused == HOF on mixed element types (float vs int codes)") {
    val df = vecDf(24, 200)
      .withColumn("code", transform(col("b"),
        x => floor(x.cast("double") * 3 + 0.5).cast("int")))
    assertSame(df, VectorFns.cosine(col("a"), col("code")),
      VectorFns.cosineHof(col("a"), col("code")))
  }

  test("sig agreement: fused == HOF on long signatures") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val a = (0 until 32).map(j =>
        if (rnd.nextBoolean()) j.toLong else rnd.nextLong())
      val b = (0 until 32).map(j =>
        if (rnd.nextBoolean()) j.toLong else rnd.nextLong())
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => when(x === y, lit(1.0)).otherwise(lit(0.0))),
      lit(0.0), (acc, v) => acc + v)
    assertSame(df, VectorKernels.sig_agreement(col("a"), col("b")), hof)
    // length mismatch: missing slots contribute 0, never null
    assertSame(df.withColumn("short", slice(col("b"), 1, 20)),
      VectorKernels.sig_agreement(col("a"), col("short")),
      aggregate(zip_with(col("a"), col("short"),
        (x, y) => when(x === y, lit(1.0)).otherwise(lit(0.0))),
        lit(0.0), (acc, v) => acc + v))
  }

  test("hyperplane bucket (portable md5): fused == HOF incl. width mismatch") {
    import spark.implicits._
    def same(df: org.apache.spark.sql.DataFrame): Unit =
      assertSame(df, VectorFns.hyperplane_bucket(col("a"), 8, 64),
        VectorFns.hyperplaneBucketHof(col("a"), 8, 64))
    val df = vecDf(64, 400)
    same(df)
    // vector shorter than the declared dim → bucket 0 both ways
    same(df.withColumn("a", slice(col("a"), 1, 40)))
    // null elements / null vector degrade to bucket 0
    same(vecDf(64, 200, withNulls = true)
      .withColumn("a", when(col("id") % 5 === 0, lit(null))
        .otherwise(col("a"))))
    // SQL's `proj > 0`: a NaN projection (a NaN element, or +Inf
    // meeting −Inf) is greatest and sets the bit; −0.0 ties 0.0
    def v(f: Int => Float) = (0 until 64).map(i => java.lang.Float.valueOf(f(i)))
    same(Seq(
        v(i => if (i == 5) Float.NaN else 1f),
        v(i => if (i == 0) Float.PositiveInfinity
               else if (i == 1) Float.NegativeInfinity else 0f),
        v(i => if (i == 3) Float.PositiveInfinity else -1f),
        v(i => if (i == 3) Float.NegativeInfinity else 1f),
        v(_ => -0f),
        v(i => if (i % 2 == 0) -0f else 0f))
      .zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "a"))
  }

  test("quantize scale + codes: fused == HOF incl. zero-scale and nulls") {
    import spark.implicits._
    val base = mkRows(32, 300, withNulls = true)
    val rows = base ++ Seq(
      (2000L, Seq.fill(32)(java.lang.Float.valueOf(0f)),
        Seq.empty[java.lang.Float]))
    val df = rows.toDF("id", "a", "b")
      .withColumn("scale_f", VectorFns.quantize_scale(col("a")))
      .withColumn("scale_h", VectorFns.quantizeScaleHof(col("a")))
    val badScale = df.where(!(col("scale_f") <=> col("scale_h"))).count()
    assert(badScale == 0L, "fused quantize_scale diverged")
    assertSame(df, VectorFns.quantize_i8(col("a"), col("scale_f")),
      VectorFns.quantizeI8Hof(col("a"), col("scale_h")))
  }

  test("interpreted eval matches codegen (HOF-lambda host)") {
    // embed the fused cosine inside an interpreted HOF lambda (the
    // screenAgainst shape) so the expression's eval() path runs too
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 50).map { i =>
      val v = (0 until 16).map(_ => rnd.nextGaussian().toFloat)
      val set = (0 until 3).map(_ =>
        (0 until 16).map(_ => rnd.nextGaussian().toFloat))
      (i.toLong, v, set)
    }
    val df = rows.toDF("id", "v", "bset")
    val fusedMax = aggregate(col("bset"), lit(-1.0d),
      (acc, x) => greatest(acc, VectorFns.cosine(col("v"), x)))
    val hofMax = aggregate(col("bset"), lit(-1.0d),
      (acc, x) => greatest(acc, VectorFns.cosineHof(col("v"), x)))
    val bad = df.select(fusedMax.as("f"), hofMax.as("h"))
      .where(!(col("f") <=> col("h"))).count()
    assert(bad == 0L, "interpreted-path fused cosine diverged")
  }
}
