package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 60-bit hash as a native codegen'd expression: the
  * value of the first 15 hex chars of md5(s) — identical to
  * `conv(substring(md5(s), 1, 15), 16, 10)` and to the oracle's
  * hex-digit arithmetic ([[graft.queries.Dsl.hex60Sql]]) — computed
  * straight from the digest bytes. Skipping the hex-string render and
  * the base-16 string parse, and reusing a thread-local MessageDigest,
  * makes the md5 signature pipelines ~2× cheaper while producing
  * byte-identical values.
  *
  * First 15 hex chars = bytes 0..6 plus the high nibble of byte 7:
  * shift-or them into a long (top 4 bits stay zero, so the value is
  * always non-negative and fits DuckDB's BIGINT exactly).
  */
object PortableHash60 {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hash raw UTF-8 bytes; called from interpreted and generated code. */
  def hash(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)

  /** Column-level entry point. */
  def portable_hash60(s: Column): Column =
    Bridge.column(PortableHash60Expr(Bridge.expression(s)))
}

case class PortableHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash60"

  override def nullSafeEval(input: Any): Any =
    PortableHash60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.PortableHash60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PortableHash60Expr =
    copy(child = newChild)
}

/** The whole portable MinHash slot family from ONE md5 digest, via
  * double hashing: slot_i = (h1 + i·h2) mod 2^60, where h1 is the first
  * 15 hex chars of md5(s) (60 bits) and h2 the next 14 (56 bits). One
  * digest per shingle replaces `numHashes` digests of seed-prefixed
  * strings — the dominant cost of the signature path — while
  * staying engine-reproducible: i ≤ 63 keeps i·h2 < 2^62, so
  * h1 + i·h2 < 2^63 never overflows a signed 64-bit value and DuckDB's
  * checked BIGINT arithmetic computes the identical result
  * ([[graft.queries.Dsl]] renders the SQL twin). Pairwise-independent in
  * the classic (Kirsch-Mitzenmacher) sense — the standard construction
  * for Bloom/MinHash families.
  */
object PortableMinHashes {

  private val Mask60 = (1L << 60) - 1

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All `num` slot hashes from one digest; called from codegen. */
  def slots(s: UTF8String, num: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // h1: hex chars 1-15 = bytes 0-6 + high nibble of byte 7
    var h1 = 0L
    var i = 0
    while (i < 7) { h1 = (h1 << 8) | (d(i) & 0xFFL); i += 1 }
    h1 = (h1 << 4) | ((d(7) & 0xF0L) >>> 4)
    // h2: hex chars 16-29 = low nibble of byte 7 + bytes 8-13 + high
    // nibble of byte 14 (56 bits)
    var h2 = d(7) & 0x0FL
    i = 8
    while (i < 14) { h2 = (h2 << 8) | (d(i) & 0xFFL); i += 1 }
    h2 = (h2 << 4) | ((d(14) & 0xF0L) >>> 4)
    val out = new Array[Long](num)
    i = 0
    while (i < num) { out(i) = (h1 + i * h2) & Mask60; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def portable_minhashes(s: Column, num: Int): Column =
    Bridge.column(PortableMinHashesExpr(Bridge.expression(s), num))
}

case class PortableMinHashesExpr(child: Expression, num: Int)
    extends UnaryExpression {
  require(num > 0 && num <= 63, s"num must be in [1, 63], got $num")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_minhashes"

  override def nullSafeEval(input: Any): Any =
    PortableMinHashes.slots(input.asInstanceOf[UTF8String], num)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.PortableMinHashes.slots($c, $num)")

  override protected def withNewChildInternal(newChild: Expression): PortableMinHashesExpr =
    copy(child = newChild)
}
