package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFns
import graft.plans.GraftOps

/** The fused nearest-centroid argbest ([[VectorKernels.nearestCos]] /
  * [[VectorKernels.nearestL2]]) must pick the EXACT row the old
  * `crossJoin(broadcast(cent)) → score → TopKPerKey top-1` shape kept —
  * same winning cent_id AND same winning score double — including the
  * corners the SortOrder null placement decided: null vectors, null
  * elements, length mismatches (null scores sort LAST under
  * `cosine desc` and FIRST under `d2 asc`), zero-norm vectors
  * (cosine's when-guard 0.0), exact score ties (smaller cent_id), and
  * non-finite scores (NaN ranks above every double, −0.0 ties 0.0).
  * The IVF/PQ oracle hashes ride on this identity after the round-19
  * pure-map rewrite of ivfAssign/pqAssign/pqEncode. */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def l2sq(a: Column, b: Column): Column =
    (VectorFns.dot(a, a) - lit(2.0) * VectorFns.dot(a, b)) +
      VectorFns.dot(b, b)

  private def mkVec(rnd: scala.util.Random, dim: Int, nulls: Boolean,
                    zero: Boolean = false): Seq[java.lang.Float] =
    (0 until dim).map { _ =>
      if (zero) java.lang.Float.valueOf(0f)
      else if (nulls && rnd.nextInt(13) == 0) null
      else java.lang.Float.valueOf(rnd.nextGaussian().toFloat)
    }

  /** a finite vector with one element replaced by `x` */
  private def withElem(rnd: scala.util.Random, dim: Int,
                       x: Float): Seq[java.lang.Float] = {
    val at = rnd.nextInt(dim)
    mkVec(rnd, dim, nulls = false).updated(at, java.lang.Float.valueOf(x))
  }

  /** corpus of n vectors (some null / zero / short / null-element) and
    * k centroids (some degenerate too). With `nonFinite`, some vectors
    * and centroids also carry a NaN or ±Inf element or −0.0 elements:
    * their scores go NaN (which SortOrder ranks above every double) or
    * ±Inf, and −0.0 must tie 0.0. The null-element centroid gives way
    * to a non-finite one there: its null score would win every row
    * under nulls-first `d2 asc` and hide the NaN ordering. */
  private def fixtures(dim: Int, n: Int, k: Int, nonFinite: Boolean = false)
      : (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(7)
    def negZeros(v: Seq[java.lang.Float]) = v.zipWithIndex.map {
      case (x, i) => if (i % 2 == 0) java.lang.Float.valueOf(-0.0f) else x
    }
    val vecs = (0 until n).map { i =>
      val v =
        if (i % 19 == 3) null
        else if (i % 17 == 4) mkVec(rnd, dim, nulls = false, zero = true)
        else if (i % 13 == 5) mkVec(rnd, dim - 2, nulls = false) // short
        else if (nonFinite && i % 23 == 6) withElem(rnd, dim, Float.NaN)
        else if (nonFinite && i % 29 == 8)
          withElem(rnd, dim, Float.PositiveInfinity)
        else if (nonFinite && i % 31 == 9)
          withElem(rnd, dim, Float.NegativeInfinity)
        else if (nonFinite && i % 37 == 10)
          negZeros(mkVec(rnd, dim, nulls = false))
        else mkVec(rnd, dim, nulls = i % 7 == 1)
      (i.toLong, v)
    }
    // duplicated centroid vectors force exact score ties
    val cents0 = (0 until k).map { i =>
      val cv =
        if (nonFinite && i == 3) withElem(rnd, dim, Float.NaN)
        else if (nonFinite && i == 4)
          withElem(rnd, dim, Float.PositiveInfinity)
        else if (nonFinite && i == 6)
          withElem(rnd, dim, Float.NegativeInfinity)
        else if (nonFinite && i == 7)
          negZeros(mkVec(rnd, dim, nulls = false, zero = true))
        else if (i % 11 == 2) mkVec(rnd, dim, nulls = false, zero = true)
        else if (i % 9 == 4) mkVec(rnd, dim, nulls = true)
        else mkVec(rnd, dim, nulls = false)
      (100L + i, cv)
    }
    val cents = cents0 ++ cents0.take(2).map { case (id, cv) => (id + k, cv) }
    (vecs.toDF("cand_id", "cv"), cents.toDF("cent_id", "cvec"))
  }

  private def fanoutTop1(c: DataFrame, cent: DataFrame, score: Column,
                         asc: Boolean): DataFrame =
    GraftOps.topKPerKey(
      c.crossJoin(broadcast(cent)).withColumn("s", score),
      Seq(col("cand_id")),
      Seq(if (asc) col("s").asc else col("s").desc, col("cent_id")), 1)
      .select(col("cand_id"), col("cent_id").cast("long").as("w_id"),
        col("s").as("w_score"))

  private def packed(cent: DataFrame): DataFrame =
    cent.agg(array_sort(collect_list(struct(
      col("cent_id").cast("long").as("cent_id"), col("cvec")))).as("cset"))

  private def assertParity(fusedCol: Column, score: Column,
                           asc: Boolean, nonFinite: Boolean = false): Unit = {
    val (c, cent) = fixtures(dim = 16, n = 400, k = 9, nonFinite)
    val fused = c.crossJoin(broadcast(packed(cent)))
      .withColumn("best", fusedCol)
      .select(col("cand_id"), col("best").getField("cent_id").as("f_id"),
        col("best").getField("score").as("f_score"))
    val truth = fanoutTop1(c, cent, score, asc)
    val joined = fused.join(truth, Seq("cand_id"), "full")
    val bad = joined.where(
      !(col("f_id") <=> col("w_id")) || !(col("f_score") <=> col("w_score")))
    assert(bad.count() === 0L,
      s"fused nearest diverged from fanout top-1:\n" +
        bad.limit(5).collect().mkString("\n"))
    assert(fused.count() === truth.count())
  }

  test("cosine argmax == fanout TopKPerKey (csim desc, cent_id) " +
    "on nulls/zero-norm/mismatch/tie corners") {
    assertParity(
      VectorFns.nearest_centroid_cos(col("cv"), col("cset")),
      VectorFns.cosine(col("cv"), col("cvec")), asc = false)
  }

  test("portable-L2 argmin == fanout TopKPerKey (d2 asc, cent_id) " +
    "with asc-nulls-FIRST placement") {
    assertParity(
      VectorFns.nearest_centroid_l2(col("cv"), col("cset")),
      l2sq(col("cv"), col("cvec")), asc = true)
  }

  test("cosine argmax == fanout TopKPerKey on NaN/±Inf/−0.0 vectors " +
    "and centroids (NaN ranks greatest under desc)") {
    assertParity(
      VectorFns.nearest_centroid_cos(col("cv"), col("cset")),
      VectorFns.cosine(col("cv"), col("cvec")), asc = false,
      nonFinite = true)
  }

  test("portable-L2 argmin == fanout TopKPerKey on NaN/±Inf/−0.0 " +
    "vectors and centroids (a NaN incumbent loses under asc)") {
    assertParity(
      VectorFns.nearest_centroid_l2(col("cv"), col("cset")),
      l2sq(col("cv"), col("cvec")), asc = true, nonFinite = true)
  }

  test("empty centroid set produces no rows (the crossJoin identity)") {
    val (c, cent) = fixtures(16, 20, 3)
    val empty = cent.limit(0)
    import graft.similarity.Similarity
    assert(Similarity.ivfAssign(
      c, empty.select(col("cent_id"), col("cvec"))).count() === 0L)
  }
}
