package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * Big-endian fixed-width binary codec expressions — the codegen'd core of the
 * reference's byte-oriented data model (`Bytes.toInt`/`Bytes.toLong` in
 * `AggregationBuilder.java:84-115` and the `LongColumnInterpreter` value path,
 * `TimeseriesAggregateImplementation.java:122-139`).
 *
 * Round 1 phrased encode/decode as `hex`/`lpad`/`unhex`/`conv` compositions;
 * those are correct but allocate 2–4 intermediate strings per row — 38% of the
 * round-1 bench was that synthesis (VERDICT r1, perf audit). These expressions
 * do the same transform as one tight byte loop inside whole-stage codegen:
 * no strings, no allocation beyond the output array.
 */

/**
 * Long → `width`-byte big-endian binary (low `width` bytes of the two's
 * complement form). Values must fit `width` bytes as *either* a signed or an
 * unsigned quantity — i.e. `-2^(8w-1) ≤ v ≤ 2^(8w)-1` — anything else is a
 * hard error (module stance: no silent wraps; see [[graft.functions.RowKeys]]).
 */
case class LongToBytesBE(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1 && width <= 8, s"width must be 1..8, got $width")

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"long_to_bytes_be requires an integral type, got $t")
  }

  private val lo: Long = if (width == 8) Long.MinValue else -(1L << (8 * width - 1))
  private val hi: Long = if (width == 8) Long.MaxValue else (1L << (8 * width)) - 1

  override def nullSafeEval(input: Any): Any = {
    val v = input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
    }
    BinaryCodec.encodeBE(v, width, lo, hi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.expressions.BinaryCodec.encodeBE((long) $v, $width, ${lo}L, ${hi}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongToBytesBE {
  def apply(value: Column, width: Int): Column =
    GraftBridge.toColumn(LongToBytesBE(GraftBridge.toExpression(value), width))
}

/**
 * `width`-byte big-endian binary → Long. `signed = true` sign-extends from the
 * top bit (Java `Bytes.toLong`/`Bytes.toInt` semantics); `signed = false`
 * reads an unsigned quantity (requires width ≤ 7 so the result fits a Long).
 * A length mismatch is a hard error — the reference logs and mis-buckets at
 * t=0 on mask/key mismatch (`AggregationBuilder.java:104-108`); we refuse.
 */
case class BytesBEToLong(child: Expression, width: Int, signed: Boolean) extends UnaryExpression {
  require(width >= 1 && width <= 8, s"width must be 1..8, got $width")
  require(signed || width <= 7, "unsigned decode requires width <= 7 to fit a Long")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bytes_be_to_long requires binary, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    BinaryCodec.decodeBE(input.asInstanceOf[Array[Byte]], width, signed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.expressions.BinaryCodec.decodeBE($b, $width, $signed);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BytesBEToLong {
  def apply(bin: Column, width: Int, signed: Boolean = true): Column =
    GraftBridge.toColumn(BytesBEToLong(GraftBridge.toExpression(bin), width, signed))
}

/** IEEE-754 bit pattern (Long) → Double — codegen'd `Double.longBitsToDouble`,
  * replacing the per-row `java_method` reflection call round 1 used. */
case class LongBitsToDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"long_bits_to_double requires bigint, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.longBitsToDouble(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = java.lang.Double.longBitsToDouble($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongBitsToDouble {
  def apply(bits: Column): Column =
    GraftBridge.toColumn(LongBitsToDouble(GraftBridge.toExpression(bits)))
}

/** Static helpers shared by interpreted eval and generated code. */
object BinaryCodec {
  /** Driver-side convenience: `v` as `width` big-endian bytes (same range rule
    * as [[LongToBytesBE]]) — for building scan-boundary key literals. */
  def be(v: Long, width: Int): Array[Byte] = {
    val lo = if (width == 8) Long.MinValue else -(1L << (8 * width - 1))
    val hi = if (width == 8) Long.MaxValue else (1L << (8 * width)) - 1
    encodeBE(v, width, lo, hi)
  }

  def encodeBE(v: Long, width: Int, lo: Long, hi: Long): Array[Byte] = {
    if (v < lo || v > hi)
      throw new IllegalArgumentException(
        s"long_to_bytes_be: value $v out of $width-byte range [$lo, $hi]")
    val out = new Array[Byte](width)
    var i = 0
    while (i < width) {
      out(width - 1 - i) = ((v >>> (8 * i)) & 0xff).toByte
      i += 1
    }
    out
  }

  def decodeBE(b: Array[Byte], width: Int, signed: Boolean): Long = decodeBE(b, b.length, width, signed)

  /** [[decodeBE]] of the first `len` bytes of `b` (a reused buffer). */
  def decodeBE(b: Array[Byte], len: Int, width: Int, signed: Boolean): Long = {
    if (len != width)
      throw new IllegalArgumentException(s"bytes_be_to_long: expected $width bytes, got $len " +
        s"(0x${b.iterator.take(len).map("%02x".format(_)).mkString})")
    var v = 0L
    var i = 0
    while (i < width) {
      v = (v << 8) | (b(i) & 0xffL)
      i += 1
    }
    if (signed && width < 8) {
      val shift = 64 - 8 * width
      (v << shift) >> shift
    } else v
  }
}
