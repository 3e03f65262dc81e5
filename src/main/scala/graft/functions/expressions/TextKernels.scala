package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-document token-array kernels for the curation queries. Each one is a
 * single loop over a string array in compiled code — the [[BpeCount]]
 * arrangement: `doGenCode` is one call into a static helper of
 * [[TextKernels]], so the projection stays inside whole-stage codegen.
 * Catalyst's higher-order functions (`transform`, `filter`) are
 * `CodegenFallback`: each lambda call is interpreted per element, and
 * subexpression elimination cannot share work across them. These kernels
 * replace those lambda chains with identical results (TextKernelSpec keeps
 * the lambda forms as the reference).
 *
 * Null handling follows the formulations they replace: a null array gives
 * null; null elements are skipped when joining an n-gram (`concat_ws`) and
 * never match when counting (`x === t`, `isin`).
 */
private[expressions] trait StringArrayInput { self: UnaryExpression =>
  protected def fnName: String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$fnName requires array<string>, got $t")
  }
}

/** Multiplicity of the most frequent non-null element — one hash pass.
  * Null on an empty array (as `array_max` of no counts); an all-null
  * array gives 0. */
case class TopCount(child: Expression) extends UnaryExpression with StringArrayInput {
  protected def fnName = "top_count"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val c = TextKernels.topCount(input.asInstanceOf[ArrayData])
    if (c < 0) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"""${ev.value} = graft.functions.expressions.TextKernels.topCount($arr);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Space-joined n-grams in document order, duplicates kept; `[]` when the
  * array has fewer than `n` elements. */
case class Ngrams(child: Expression, n: Int) extends UnaryExpression with StringArrayInput {
  require(n >= 1, s"n-gram width must be >= 1, got $n")
  protected def fnName = "ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.expressions.TextKernels.ngrams($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Minimum `xxhash64` (seed 42) over the UTF-8 bytes of each space-joined
  * n-gram — bit-identical to `array_min(transform(ngrams, xxhash64))`
  * without building the strings. Null when there is no n-gram. */
case class MinNgramHash(child: Expression, n: Int) extends UnaryExpression with StringArrayInput {
  require(n >= 1, s"n-gram width must be >= 1, got $n")
  protected def fnName = "min_ngram_hash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() < n) null else TextKernels.minNgramHash(arr, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"""if ($arr.numElements() < $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.expressions.TextKernels.minNgramHash($arr, $n);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Number of elements found in a constant word set. */
case class CountIn(child: Expression, words: Seq[String])
    extends UnaryExpression with StringArrayInput {
  protected def fnName = "count_in"
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = TextKernels.wordSet(words)

  override def nullSafeEval(input: Any): Any =
    TextKernels.countIn(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("words", TextKernels.wordSet(words), "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.expressions.TextKernels.countIn($arr, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The kernels' loops, shared by interpreted eval and generated code. */
object TextKernels {
  /** `xxhash64`'s default seed. */
  val HashSeed = 42L

  private val Space: Byte = ' '.toByte

  /** Most-frequent count, or -1 for an empty array. */
  def topCount(arr: ArrayData): Int = {
    val len = arr.numElements()
    if (len == 0) return -1
    val counts = new java.util.HashMap[UTF8String, Array[Int]](len * 2)
    var top = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var c = counts.get(t)
        if (c == null) { c = new Array[Int](1); counts.put(t, c) }
        c(0) += 1
        if (c(0) > top) top = c(0)
      }
      i += 1
    }
    top
  }

  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](len - n + 1)
    val buf = new Array[Byte](joinBufferSize(arr))
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, joinWindow(arr, i, n, buf)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Caller guarantees `arr.numElements() >= n`. */
  def minNgramHash(arr: ArrayData, n: Int): Long = {
    val buf = new Array[Byte](joinBufferSize(arr))
    var min = Long.MaxValue
    var i = 0
    while (i <= arr.numElements() - n) {
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, joinWindow(arr, i, n, buf), HashSeed)
      if (h < min) min = h
      i += 1
    }
    min
  }

  def countIn(arr: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && words.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def wordSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Room for any window: every element's bytes plus a separator each. */
  private def joinBufferSize(arr: ArrayData): Int = {
    var total = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) total += arr.getUTF8String(i).numBytes() + 1
      i += 1
    }
    total
  }

  /** Writes the non-null elements `from until from + n` into `buf`, single
    * spaces between them (`concat_ws(" ", …)`); returns the byte length. */
  private def joinWindow(arr: ArrayData, from: Int, n: Int, buf: Array[Byte]): Int = {
    var pos = 0
    var first = true
    var j = from
    while (j < from + n) {
      if (!arr.isNullAt(j)) {
        if (!first) { buf(pos) = Space; pos += 1 }
        val s = arr.getUTF8String(j)
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += s.numBytes()
        first = false
      }
      j += 1
    }
    pos
  }
}
