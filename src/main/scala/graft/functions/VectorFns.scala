package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.VectorKernels

/** Embedding-vector column functions over `array<float>` (north-star
  * similarity-search scope, SURVEY.md §7.1 M8).
  *
  * Round 18: the public entry points now build the FUSED codegen
  * kernels ([[graft.expressions.VectorKernels]]) instead of the
  * `zip_with` + `aggregate` higher-order-function trees — Spark's array
  * HOFs are CodegenFallback, so the old formulations evaluated an
  * interpreted lambda tree per ELEMENT in every similarity serve, IVF
  * build, PQ step and semantic screen. The kernels run the same
  * left-to-right double folds over the same casts, so results are
  * bit-identical (VectorKernelsSpec pins fused == HOF value-for-value,
  * including null/length corners; the `*Hof` privates below are kept
  * as the executable specification). Accumulation is in double for
  * stability regardless of input element type, as before.
  */
object VectorFns {

  /** Dot product of two equal-length float vectors. */
  def dot(a: Column, b: Column): Column = VectorKernels.vec_dot(a, b)

  /** Fused k-means E-step argmax-cosine over a packed
    * `array<struct<cent_id, cvec>>` centroid set (sorted ascending by
    * cent_id): `struct(cent_id, score)` of the winner under
    * `(cosine desc, cent_id asc)` with SortOrder null placement — the
    * exact top-1 the fanout+TopKPerKey formulation produced, minus the
    * |rows|×|centroids| tuple materialization and the final-cut
    * exchange. Null only for a null/empty set. */
  def nearest_centroid_cos(v: Column, cset: Column): Column =
    VectorKernels.nearest_centroid_cos(v, cset)

  /** [[nearest_centroid_cos]]'s portable-L2 sibling: winner under
    * `((⟨a,a⟩−2⟨a,b⟩)+⟨b,b⟩ asc, cent_id asc)`, nulls first. */
  def nearest_centroid_l2(v: Column, cset: Column): Column =
    VectorKernels.nearest_centroid_l2(v, cset)

  /** The HOF formulation [[dot]] fused — kept as the executable spec
    * (VectorKernelsSpec asserts bit-parity on randomized inputs). */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2_norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = VectorKernels.vec_cosine(a, b)

  /** The HOF formulation [[cosine]] fused — executable spec. */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    def d(x: Column, y: Column) = dotHof(x, y)
    val na = sqrt(d(a, a))
    val nb = sqrt(d(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d(a, b) / (na * nb))
  }

  /** Symmetric int8 scalar quantization: q_i = ⌊x_i/scale·127 + ½⌋ with
    * scale = max|x| — the 4× storage cut (float32 → int8) an embedding
    * store takes at corpus scale, as a pure codegen'd projection. The
    * ⌊·+½⌋ convention (not `round`) keeps every lane integer-exact and
    * engine-portable: floor is IEEE-deterministic where banker's/half-up
    * tie rules differ between engines. Zero vectors quantize to zeros.
    *
    * The scale is a PRECOMPUTED column (e.g. a
    * `withColumn("scale", quantize_scale(v))` projection) — one fold
    * per row, not one per lane. */
  def quantize_i8(v: Column, scale: Column): Column =
    VectorKernels.quantize_i8_fused(v, scale)

  /** The HOF formulation [[quantize_i8]] fused — executable spec. */
  private[graft] def quantizeI8Hof(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v,
        x => floor(x.cast("double") / scale * 127.0 + 0.5).cast("int")))

  /** Convenience form for one-off/test use. */
  def quantize_i8(v: Column): Column = quantize_i8(v, quantize_scale(v))

  /** The quantization scale (max |x|) the de-quantizer needs. */
  def quantize_scale(v: Column): Column =
    VectorKernels.quantize_scale_fused(v)

  /** The HOF formulation [[quantize_scale]] fused — executable spec. */
  private[graft] def quantizeScaleHof(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))

  /** Squared euclidean distance. */
  def l2_sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** The ±1 weight for (plane p, dimension i): the low bit of the first
    * 15 hex chars of md5("p,i") — i.e. the low bit of
    * [[graft.functions.TextFns.portable_hash60]] over the same string,
    * which is just the low bit of hex digit 15. Computed driver-side so
    * the weights become plan constants; the oracle recomputes the same
    * bit in SQL. */
  private[graft] def portableWeight(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p,$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ((Integer.parseInt(hex.substring(14, 15), 16) & 1) == 1) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket: sign bits of the dot products
    * against `planes` hyperplanes whose ±1 weights derive from md5 of
    * "plane,dim" (see [[portableWeight]]), so any engine with md5 — the
    * correctness oracle — rebuilds identical buckets. Vectors in the
    * same bucket are cosine-similar candidates — the path that replaces
    * the all-pairs cross join. Weights are plan-time constants (`dim`
    * must be the actual vector length); per row the fused kernel runs
    * the same left-to-right double accumulation the oracle's list_sum
    * uses. */
  def hyperplane_bucket(vec: Column, planes: Int = 8,
                        dim: Int = 64): Column =
    VectorKernels.hyperplane_bucket_fused(vec,
      Array.tabulate(planes, dim)((p, i) => portableWeight(p, i)))

  /** The HOF formulation [[hyperplane_bucket]] fused — executable
    * spec. */
  private[graft] def hyperplaneBucketHof(vec: Column, planes: Int,
                                         dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val weights = array((0 until dim).map(i => lit(portableWeight(p, i))): _*)
      val proj = aggregate(
        zip_with(vec, weights, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }
}
