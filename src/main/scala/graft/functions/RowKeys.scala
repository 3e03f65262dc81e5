package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Rowkey-embedded timestamp extraction — the reference's key-embedded time mode
 * (SURVEY §1.2 mode 1). In the reference, a fixed-length rowkey carries a
 * big-endian 4-byte epoch-seconds int at the positions marked `'1'` in a mask
 * string like `"00000001111"`, and each column qualifier is itself a big-endian
 * int of offset-seconds added to the rowkey time
 * (`AggregationBuilder.java:84-86,97-115`; `README.md:42,54`).
 *
 * Everything here is built from codegen'd built-ins (`substring`/`hex`/`conv`),
 * so extraction stays inside whole-stage codegen and Parquet column pruning —
 * no UDF, no reflection (the reference instantiates its interpreter via
 * `Class.forName`, `TimeseriesAggregateImplementation.java:122-139`).
 */
object RowKeys {

  /** Parsed mask: byte offset (0-based) and width of the contiguous '1' run. */
  final case class Mask(offset: Int, width: Int, length: Int)

  /**
   * Parse and validate a `0`/`1` mask string. The reference tolerates a
   * mask/key length mismatch by logging and emitting timestamp 0, silently
   * mis-bucketing every cell (`AggregationBuilder.java:104-108`); per
   * SURVEY §2.3 #8 we make malformed masks a hard, eager error instead.
   */
  def parseMask(mask: String): Mask = {
    require(mask.nonEmpty && mask.forall(c => c == '0' || c == '1'),
      s"mask must be a non-empty string of 0s and 1s, got '$mask'")
    val first = mask.indexOf('1')
    val last = mask.lastIndexOf('1')
    require(first >= 0, s"mask '$mask' marks no timestamp bytes")
    require((first to last).forall(mask(_) == '1'),
      s"mask '$mask' must mark one contiguous run of 1s")
    require(last - first + 1 == 4,
      s"mask '$mask' must mark exactly 4 bytes (big-endian int32 epoch seconds)")
    Mask(first, 4, mask.length)
  }

  /**
   * Big-endian unsigned int read from a binary column at 1-based byte `pos`,
   * `width` ≤ 7 bytes (fits a signed Long). Codegen'd byte loop
   * ([[expressions.BytesBEToLong]]) — exact for the non-negative epoch values
   * the reference encodes, with no hex/conv string round-trip per row.
   */
  def beInt(key: Column, pos: Int, width: Int): Column =
    expressions.BytesBEToLong(substring(key, pos, width), width, signed = false)

  /**
   * Epoch-seconds extracted from a rowkey under `mask`
   * (`getTimestampFromRowKeyAsSeconds`, `AggregationBuilder.java:102-115`).
   * Keys whose length differs from the mask raise a runtime error rather than
   * silently bucketing at t=0.
   */
  def keySeconds(key: Column, mask: String): Column = {
    val m = parseMask(mask)
    when(length(key) =!= lit(m.length),
      raise_error(concat(lit(s"rowkey length != mask length ${m.length}: "), hex(key))))
      .otherwise(beInt(key, m.offset + 1, m.width))
  }

  /**
   * Full logical timestamp in epoch millis: rowkey seconds + qualifier
   * offset-seconds, both ×1000 (`getMillisTimestampFromOffset`,
   * `AggregationBuilder.java:97-100`).
   */
  def keyMillis(key: Column, mask: String, offsetSec: Column): Column =
    (keySeconds(key, mask) + offsetSec.cast("long")) * lit(1000L)

  /** Encode epoch-seconds into a 4-byte big-endian binary (fixture/test
    * helper). Codegen'd ([[expressions.LongToBytesBE]]); values outside the
    * signed-or-unsigned 32-bit range [-2³¹, 2³²−1] are a hard error
    * (module stance: no silent wraps). */
  def int32BE(seconds: Column): Column =
    expressions.LongToBytesBE(seconds.cast("long"), 4)

  /** Encode a non-negative series id into an 8-byte big-endian binary. */
  def int64BE(value: Column): Column =
    expressions.LongToBytesBE(value.cast("long"), 8)

  /** The non-masked prefix of the key — the series identity (SURVEY §1.5). */
  def seriesPrefix(key: Column, mask: String): Column = {
    val m = parseMask(mask)
    substring(key, 1, m.offset)
  }

  /**
   * Rowkey range predicate `startRow ≤ key < stopRow` (F1 — the reference's
   * `Scan.setStartRow/setStopRow` pass-through, validated eagerly like
   * `TimeseriesAggregationClient.java:575-581`'s `start < stop` IOException).
   * Binary comparison follows HBase's unsigned lexicographic order; Spark
   * compares BinaryType the same way, and the predicate pushes to Parquet
   * min/max pruning on the key column.
   */
  def keyRangeFilter(key: Column, startRow: Array[Byte], stopRow: Array[Byte]): Column = {
    requireKeyRange(startRow, stopRow)
    key >= lit(startRow) && key < lit(stopRow)
  }

  /** The eager `startRow < stopRow` check of [[keyRangeFilter]]. */
  def requireKeyRange(startRow: Array[Byte], stopRow: Array[Byte]): Unit =
    require(unsignedCompare(startRow, stopRow) < 0,
      s"startRow must sort strictly before stopRow (got ${hexStr(startRow)} >= ${hexStr(stopRow)})")

  private def hexStr(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** HBase `Bytes.compareTo` semantics: unsigned byte-wise lexicographic. */
  def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cmp = (a(i) & 0xff) - (b(i) & 0xff)
      if (cmp != 0) return cmp
      i += 1
    }
    a.length - b.length
  }
}
