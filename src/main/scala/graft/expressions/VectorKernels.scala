package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The dense-vector kernels (dot / cosine / signature agreement /
  * hyperplane-LSH bucket / int8 quantization) FUSED into codegen'd
  * expressions — the [[SlopWindows]] recipe applied to the embedding
  * family's per-row hot path.
  *
  * WHY: Spark's array higher-order functions (`zip_with`, `aggregate`,
  * `transform`) are CodegenFallback — every vector op in
  * [[graft.functions.VectorFns]] evaluated an interpreted lambda tree
  * per ELEMENT (a 64-dim cosine = 3 zip_with array materializations +
  * 3 × 64 interpreted fold steps), and cosine/dot sit under every
  * similarity serve, IVF build/probe, PQ step, semantic screen and
  * brute-force truth leg. Each kernel here is one compiled loop behind
  * a static call, so the surrounding projection stays inside
  * WholeStageCodegen.
  *
  * BIT-EXACT PARITY with the HOF formulations they replace (asserted
  * value-for-value in VectorKernelsSpec, including null/length-mismatch
  * corners): every accumulation runs the same left-to-right double fold
  * over the same per-element casts, so the produced doubles are
  * identical — the DuckDB-oracle hash compares stay green by the same
  * argument that certified the originals.
  *
  * Null semantics replicated from the HOF trees:
  *  - dot/cosine: null input array, length mismatch, or any null
  *    element → NULL (zip_with pads the shorter side with null; the
  *    fold then sticks at null) — with cosine's when-guard caveat that
  *    a TRUE zero-norm test on the non-null side still yields 0.0
  *    (`null OR true = true` in the guard).
  *  - sig agreement: null arrays → NULL; null/missing elements simply
  *    contribute 0.0 (the `when(x === y, 1).otherwise(0)` lambda sends
  *    a null comparison to the otherwise branch).
  *  - hyperplane bucket: never null — a null/mismatched input nulls
  *    every plane's projection and `when(proj > 0, …).otherwise(0)`
  *    maps those to bit 0, so the bucket degrades to 0.
  *  - quantize scale: null input → NULL; null elements are skipped
  *    (`greatest` ignores nulls); NaN is sticky-greatest.
  *  - quantize codes: null inputs → NULL; scale 0 → all-zero codes
  *    (even at null element slots — the zero lambda ignores its input);
  *    otherwise null elements stay null in the output.
  */
object VectorKernels {

  // element-type tags so the per-row loops stay monomorphic: the
  // expression resolves the tag once from the child schema, never per row
  final val TFloat = 0
  final val TDouble = 1
  final val TInt = 2
  final val TLong = 3
  final val TShort = 4
  final val TByte = 5

  private[expressions] def typeTag(dt: DataType): Int = dt match {
    case FloatType => TFloat
    case DoubleType => TDouble
    case IntegerType => TInt
    case LongType => TLong
    case ShortType => TShort
    case ByteType => TByte
    case other => throw new IllegalArgumentException(
      s"vector kernel over non-numeric element type $other")
  }

  @inline private def elem(a: ArrayData, i: Int, tag: Int): Double =
    tag match {
      case TFloat => a.getFloat(i).toDouble
      case TDouble => a.getDouble(i)
      case TInt => a.getInt(i).toDouble
      case TLong => a.getLong(i).toDouble
      case TShort => a.getShort(i).toDouble
      case _ => a.getByte(i).toDouble
    }

  /** Σ aᵢ·bᵢ as the HOF fold computed it, or null under the zip_with
    * null rules (length mismatch / null element / null array). */
  def dotBoxed(a: ArrayData, b: ArrayData, ta: Int, tb: Int): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, i, ta) * elem(b, i, tb)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Cosine with the original's exact guard semantics:
    * `when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))` over
    * three independent sequential folds. The three folds can null
    * independently (dot(a,a) only sees a's nulls), so the three-valued
    * OR is replayed literally. */
  def cosineBoxed(a: ArrayData, b: ArrayData, ta: Int, tb: Int): java.lang.Double = {
    if (a == null || b == null) return null
    val na = a.numElements()
    val nb = b.numElements()
    // dot(a, a): nulls only from a itself (lengths trivially equal)
    var aa = 0.0
    var aaNull = false
    var i = 0
    while (i < na && !aaNull) {
      if (a.isNullAt(i)) aaNull = true
      else { val x = elem(a, i, ta); aa += x * x }
      i += 1
    }
    var bb = 0.0
    var bbNull = false
    i = 0
    while (i < nb && !bbNull) {
      if (b.isNullAt(i)) bbNull = true
      else { val x = elem(b, i, tb); bb += x * x }
      i += 1
    }
    var ab = 0.0
    var abNull = na != nb
    i = 0
    val n = math.min(na, nb)
    while (i < n && !abNull) {
      if (a.isNullAt(i) || b.isNullAt(i)) abNull = true
      else ab += elem(a, i, ta) * elem(b, i, tb)
      i += 1
    }
    val naV = if (aaNull) Double.NaN else math.sqrt(aa)
    val nbV = if (bbNull) Double.NaN else math.sqrt(bb)
    // three-valued (na === 0 || nb === 0)
    val condTrue = (!aaNull && naV == 0.0) || (!bbNull && nbV == 0.0)
    val condNull = !condTrue && (aaNull || bbNull)
    if (condTrue) java.lang.Double.valueOf(0.0)
    else if (condNull || abNull) null
    else java.lang.Double.valueOf(ab / (naV * nbV))
  }

  /** Count of positions where the two signature arrays agree, as a
    * double — `aggregate(zip_with(a, b, when(x === y, 1.0)
    * .otherwise(0.0)), 0.0, _ + _)`: null/missing positions fall into
    * the otherwise branch and contribute 0.0, so the loop runs over
    * max(len) but only equal non-null pairs count. Callers divide by
    * the signature width outside, unchanged. */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        acc += 1.0
      i += 1
    }
    acc
  }

  /** Hyperplane-LSH bucket over a precomputed ±1 weight matrix
    * (planes × dim). A null vector, a null element, or a length
    * mismatch with the weight row nulls that plane's projection and
    * the original's `when(proj > 0, bit).otherwise(0)` maps it to 0 —
    * so such rows land in bucket 0 rather than erroring, exactly as
    * before. `proj > 0` is SQL's comparison: a NaN projection (a NaN
    * element, or +Inf meeting −Inf) is greatest and sets the bit, and
    * −0.0 ties 0.0 — the order Spark and the DuckDB oracle apply,
    * which a plain `>` breaks on NaN. Weight rows are data-independent
    * (md5 of "plane,dim"), so the matrix is resolved once at plan
    * time, never per row. */
  def bucket(v: ArrayData, weights: Array[Array[Double]], tag: Int): Int = {
    var result = 0
    var p = 0
    while (p < weights.length) {
      val w = w2(v, weights(p), tag)
      if (w != null && org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(w.doubleValue(), 0.0) > 0)
        result |= (1 << p)
      p += 1
    }
    result
  }

  @inline private def w2(v: ArrayData, w: Array[Double],
                         tag: Int): java.lang.Double = {
    if (v == null) return null
    val n = v.numElements()
    if (n != w.length) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      acc += elem(v, i, tag) * w(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  // ------------------------------------------------ nearest centroid
  //
  // The k-means E-step / encoder argbest FUSED over a packed centroid
  // array — replaces `crossJoin(broadcast(cent)) → score → TopKPerKey
  // top-1`, which materialized |rows| × |centroids| fanout tuples and
  // paid a row-per-input exchange for the final top-1 cut. Packed as
  // one `array<struct<cent_id, cvec>>` sorted ascending by cent_id, the
  // scan keeps the FIRST strict winner, which reproduces the
  // TopKPerKey order `(score desc|asc, cent_id asc)` exactly; SortOrder
  // null placement is replayed per metric (desc → nulls LAST, asc →
  // nulls FIRST — Spark's defaults, which the fanout formulation
  // inherited). Scores are the exact kernels above, so the winning
  // (cent_id, score) pair is bit-identical to the fanout's.

  /** Two non-null scores in SortOrder's double order: NaN ties NaN and
    * is greater than every other double, and −0.0 ties 0.0 — the order
    * the fanout's TopKPerKey applied, which plain `<`/`>` break on NaN. */
  private def sortCompare(a: java.lang.Double, b: java.lang.Double): Int =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
      a.doubleValue(), b.doubleValue())

  /** argmax over cosine (`csim desc, cent_id asc`, nulls last). `v` may
    * be null (every score nulls, first cent_id wins — the fanout kept
    * such rows too). Returns null only for a null/EMPTY centroid set,
    * where the fanout join produced no row at all — callers guard. */
  def nearestCos(v: ArrayData, cset: ArrayData, tv: Int,
                 tc: Int): InternalRow = {
    if (cset == null || cset.numElements() == 0) return null
    // hoist dot(v,v): per-centroid recomputation folds the same
    // elements in the same order, so hoisting cannot change the value
    var aa = 0.0
    var aaNull = v == null
    if (v != null) {
      val n = v.numElements()
      var i = 0
      while (i < n && !aaNull) {
        if (v.isNullAt(i)) aaNull = true
        else { val x = elem(v, i, tv); aa += x * x }
        i += 1
      }
    }
    val naV = if (aaNull) Double.NaN else math.sqrt(aa)
    val k = cset.numElements()
    var bestId = 0L
    var bestScore: java.lang.Double = null
    var c = 0
    while (c < k) {
      val s = cset.getStruct(c, 2)
      val cv = if (s.isNullAt(1)) null else s.getArray(1)
      val score: java.lang.Double =
        if (v == null || cv == null) null
        else {
          // replays cosineBoxed with aa hoisted
          val nb = cv.numElements()
          var bb = 0.0
          var bbNull = false
          var i = 0
          while (i < nb && !bbNull) {
            if (cv.isNullAt(i)) bbNull = true
            else { val x = elem(cv, i, tc); bb += x * x }
            i += 1
          }
          var ab = 0.0
          var abNull = v.numElements() != nb
          val n = math.min(v.numElements(), nb)
          i = 0
          while (i < n && !abNull) {
            if (v.isNullAt(i) || cv.isNullAt(i)) abNull = true
            else ab += elem(v, i, tv) * elem(cv, i, tc)
            i += 1
          }
          val nbV = if (bbNull) Double.NaN else math.sqrt(bb)
          val condTrue = (!aaNull && naV == 0.0) || (!bbNull && nbV == 0.0)
          val condNull = !condTrue && (aaNull || bbNull)
          if (condTrue) java.lang.Double.valueOf(0.0)
          else if (condNull || abNull) null
          else java.lang.Double.valueOf(ab / (naV * nbV))
        }
      // desc + nulls last: a candidate beats iff non-null and strictly
      // greater (or the incumbent is null); the ascending-id scan keeps
      // the smaller cent_id on ties
      if (c == 0 ||
          (score != null && (bestScore == null ||
            sortCompare(score, bestScore) > 0))) {
        bestId = s.getLong(0)
        bestScore = score
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestScore))
  }

  /** argmin over portable squared L2 `(⟨a,a⟩ − 2⟨a,b⟩) + ⟨b,b⟩`
    * (`d2 asc, cent_id asc`, nulls FIRST — ascending SortOrder's
    * default, which the fanout formulation inherited: a null distance
    * outranks every real one). Same packing/guard contract as
    * [[nearestCos]]. */
  def nearestL2(v: ArrayData, cset: ArrayData, tv: Int,
                tc: Int): InternalRow = {
    if (cset == null || cset.numElements() == 0) return null
    val aaBoxed: java.lang.Double =
      if (v == null) null else dotBoxed(v, v, tv, tv)
    val k = cset.numElements()
    var bestId = 0L
    var bestScore: java.lang.Double = null
    var c = 0
    while (c < k) {
      val s = cset.getStruct(c, 2)
      val cv = if (s.isNullAt(1)) null else s.getArray(1)
      val score: java.lang.Double =
        if (v == null || cv == null || aaBoxed == null) null
        else {
          val ab = dotBoxed(v, cv, tv, tc)
          val bb = dotBoxed(cv, cv, tc, tc)
          if (ab == null || bb == null) null
          else java.lang.Double.valueOf(
            (aaBoxed.doubleValue() - 2.0 * ab.doubleValue()) +
              bb.doubleValue())
        }
      // asc + nulls first: null beats non-null; among non-nulls a
      // strictly smaller distance wins; ascending-id scan keeps the
      // smaller cent_id on ties
      if (c == 0 ||
          (score == null && bestScore != null) ||
          (score != null && bestScore != null &&
            sortCompare(score, bestScore) < 0)) {
        bestId = s.getLong(0)
        bestScore = score
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestScore))
  }

  /** max |xᵢ| with `greatest`'s null-skipping and NaN-greatest
    * semantics, from the 0.0 seed. */
  def quantScale(v: ArrayData, tag: Int): Double = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val ax = math.abs(elem(v, i, tag))
        if (java.lang.Double.isNaN(ax) || ax > acc) acc = ax
      }
      i += 1
    }
    acc
  }

  /** int8 codes: scale 0 → all-zero codes (null slots included — the
    * zero lambda never reads its input); otherwise
    * `floor(x / scale * 127 + 0.5)` cast to int per element, null
    * elements staying null. */
  def quantCodes(v: ArrayData, scale: Double, tag: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    if (scale == 0.0) {
      while (i < n) { out(i) = 0; i += 1 }
    } else {
      while (i < n) {
        if (!v.isNullAt(i))
          out(i) = math.floor(elem(v, i, tag) / scale * 127.0 + 0.5).toInt
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  // ---------------------------------------------------------- columns

  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDotExpr(Bridge.expression(a), Bridge.expression(b)))

  def vec_cosine(a: Column, b: Column): Column =
    Bridge.column(VecCosineExpr(Bridge.expression(a), Bridge.expression(b)))

  def sig_agreement(a: Column, b: Column): Column =
    Bridge.column(SigAgreementExpr(Bridge.expression(a), Bridge.expression(b)))

  def hyperplane_bucket_fused(v: Column, weights: Array[Array[Double]]): Column =
    Bridge.column(HyperplaneBucketExpr(Bridge.expression(v), weights))

  def quantize_scale_fused(v: Column): Column =
    Bridge.column(QuantScaleExpr(Bridge.expression(v)))

  def quantize_i8_fused(v: Column, scale: Column): Column =
    Bridge.column(QuantCodesExpr(Bridge.expression(v), Bridge.expression(scale)))

  def nearest_centroid_cos(v: Column, cset: Column): Column =
    Bridge.column(NearestCentroidExpr(Bridge.expression(v),
      Bridge.expression(cset), cosine = true))

  def nearest_centroid_l2(v: Column, cset: Column): Column =
    Bridge.column(NearestCentroidExpr(Bridge.expression(v),
      Bridge.expression(cset), cosine = false))
}

private[expressions] trait VecBinaryBase extends BinaryExpression {
  protected def elementTag(e: Expression): Int = e.dataType match {
    case ArrayType(et, _) => VectorKernels.typeTag(et)
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<numeric>, got $other")
  }
  @transient protected lazy val tagL: Int = elementTag(left)
  @transient protected lazy val tagR: Int = elementTag(right)
}

/** `Σ aᵢ·bᵢ` — see [[VectorKernels.dotBoxed]] for the exact HOF parity
  * contract. Nullable beyond its children: a null element or length
  * mismatch nulls the result, so codegen sets isNull from the kernel's
  * boxed return. */
case class VecDotExpr(left: Expression, right: Expression)
    extends VecBinaryBase {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_fused"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotBoxed(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], tagL, tagR)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("graftDot")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double $boxed = graft.expressions.VectorKernels.dotBoxed(
      |  $a, $b, $tagL, $tagR);
      |if ($boxed == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = $boxed.doubleValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine — see [[VectorKernels.cosineBoxed]]. */
case class VecCosineExpr(left: Expression, right: Expression)
    extends VecBinaryBase {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine_fused"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineBoxed(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], tagL, tagR)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("graftCos")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double $boxed = graft.expressions.VectorKernels.cosineBoxed(
      |  $a, $b, $tagL, $tagR);
      |if ($boxed == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = $boxed.doubleValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosineExpr =
    copy(left = newLeft, right = newRight)
}

/** MinHash slot-agreement count (a double sum of 0/1 terms) — the
  * numerator of the screen's agreement fraction. */
case class SigAgreementExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_agreement_fused"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sigAgreement(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorKernels.sigAgreement($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreementExpr =
    copy(left = newLeft, right = newRight)
}

/** LSH bucket over a plan-time weight matrix (the md5-derived
  * literals of [[graft.functions.VectorFns.hyperplane_bucket]], fused).
  * NEVER null: a null/mismatched vector
  * degrades to bucket 0 (the original when/otherwise chain's value),
  * so eval and codegen handle the null child themselves. */
case class HyperplaneBucketExpr(child: Expression,
                                weights: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_bucket_fused"

  @transient private lazy val tag: Int = child.dataType match {
    case ArrayType(et, _) => VectorKernels.typeTag(et)
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<numeric>, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else VectorKernels.bucket(v.asInstanceOf[ArrayData], weights, tag)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("graftPlaneWeights", weights,
      "double[][]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = graft.expressions.VectorKernels.bucket(
      |  ${c.isNull} ? null : ${c.value}, $w, $tag);
      |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBucketExpr = copy(child = newChild)
}

/** max |xᵢ| — the int8 quantization scale. */
case class QuantScaleExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantize_scale_fused"

  @transient private lazy val tag: Int = child.dataType match {
    case ArrayType(et, _) => VectorKernels.typeTag(et)
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<numeric>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantScale(v.asInstanceOf[ArrayData], tag)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.VectorKernels.quantScale($v, $tag)")

  override protected def withNewChildInternal(
      newChild: Expression): QuantScaleExpr = copy(child = newChild)
}

/** Fused k-means E-step / encoder argbest over a packed centroid array
  * — see [[VectorKernels.nearestCos]]/[[VectorKernels.nearestL2]] for
  * the exact TopKPerKey-parity contract. `left` is the vector, `right`
  * the `array<struct<cent_id: long, cvec: array<numeric>>>` packed set
  * (sorted ascending by cent_id at pack time). Returns
  * `struct(cent_id, score)`; null only when the SET itself is
  * null/empty (the fanout-join-produced-no-row case — callers filter),
  * while a null VECTOR still wins a centroid under the original null
  * ordering, so eval handles the null left child itself. */
case class NearestCentroidExpr(left: Expression, right: Expression,
                               cosine: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String =
    if (cosine) "nearest_centroid_cos" else "nearest_centroid_l2"

  @transient private lazy val tagV: Int = left.dataType match {
    case ArrayType(et, _) => VectorKernels.typeTag(et)
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<numeric> vector, got $other")
  }
  @transient private lazy val tagC: Int = right.dataType match {
    case ArrayType(StructType(fields), _)
        if fields.length == 2 && fields(0).dataType == LongType =>
      fields(1).dataType match {
        case ArrayType(et, _) => VectorKernels.typeTag(et)
        case other => throw new IllegalArgumentException(
          s"$prettyName centroid vector must be array<numeric>, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<struct<long, array<numeric>>>, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val cs = right.eval(input)
    if (cs == null) null
    else {
      val v = left.eval(input)
      if (cosine)
        VectorKernels.nearestCos(
          if (v == null) null else v.asInstanceOf[ArrayData],
          cs.asInstanceOf[ArrayData], tagV, tagC)
      else
        VectorKernels.nearestL2(
          if (v == null) null else v.asInstanceOf[ArrayData],
          cs.asInstanceOf[ArrayData], tagV, tagC)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val fn = if (cosine) "nearestCos" else "nearestL2"
    val out = ctx.freshName("graftNearest")
    ev.copy(code = code"""
      |${l.code}
      |${r.code}
      |org.apache.spark.sql.catalyst.InternalRow $out = ${r.isNull} ? null :
      |  graft.expressions.VectorKernels.$fn(
      |    ${l.isNull} ? null : ${l.value}, ${r.value}, $tagV, $tagC);
      |boolean ${ev.isNull} = $out == null;
      |org.apache.spark.sql.catalyst.InternalRow ${ev.value} = $out;
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidExpr =
    copy(left = newLeft, right = newRight)
}

/** int8 codes under a precomputed scale column. */
case class QuantCodesExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "quantize_i8_fused"

  @transient private lazy val tag: Int = left.dataType match {
    case ArrayType(et, _) => VectorKernels.typeTag(et)
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<numeric>, got $other")
  }

  override def nullSafeEval(v: Any, scale: Any): Any =
    VectorKernels.quantCodes(v.asInstanceOf[ArrayData],
      scale.asInstanceOf[Double], tag)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) =>
      s"graft.expressions.VectorKernels.quantCodes($v, $s, $tag)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantCodesExpr =
    copy(left = newLeft, right = newRight)
}
