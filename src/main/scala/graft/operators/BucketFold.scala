package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}

/**
 * The per-bucket fold every driver-merged client read shares: the partition
 * fold over a frame's rows ([[TsAggClient]]) and the `graft-cells` region
 * reader's fold over its cells
 * ([[graft.sources.cells.GraftCellsFoldPartitionReader]]) grow the same
 * [[Acc]] through the same adds, and the driver merges their [[Partial]]s
 * through [[merge]] — so every path follows one set of ANSI and avg rules.
 */
private[graft] object BucketFold {

  /** One bucket's running aggregates: `cells` folded (null values included,
    * the count), `n` non-null values, their max, min, Long sum and Double sum
    * (each value cast to Double, as Spark's `avg` casts it). The Long sum is
    * kept only by a fold that `sums`, so a read that does not sum never
    * raises on its overflow. */
  final class Acc {
    var cells = 0L
    var n = 0L
    var max = Long.MinValue
    var min = Long.MaxValue
    var sum = 0L
    var dsum = 0.0
  }

  /** One partition's (or region's) [[Acc]] for one bucket, as collected. */
  final case class Partial(bucket: Long, cells: Long, n: Long, max: Long, min: Long, sum: Long,
      dsum: Double)

  /** Built once: deriving a product encoder reflects over the case class. */
  lazy val partialEncoder: Encoder[Partial] = Encoders.product[Partial]

  /** A Long sum overflows as Spark's `sum` does under the session: `addExact`
    * raises with ANSI on and the sum wraps with it off. */
  private def plus(a: Long, b: Long, ansi: Boolean): Long = if (ansi) Math.addExact(a, b) else a + b

  /** Folds one non-null Long value into `into` (its cell is counted apart). */
  def addLong(into: Acc, v: Long, sums: Boolean, ansi: Boolean): Unit = {
    if (v > into.max) into.max = v
    if (v < into.min) into.min = v
    if (sums) into.sum = plus(into.sum, v, ansi)
    into.n += 1
    into.dsum += v.toDouble
  }

  /** Folds one non-null Double value: only an average reads it. */
  def addDouble(into: Acc, d: Double): Unit = {
    into.n += 1
    into.dsum += d
  }

  /** Merges one collected partial into the driver's running `into`. */
  def merge(into: Acc, p: Partial, sums: Boolean, ansi: Boolean): Unit = {
    into.cells += p.cells
    into.n += p.n
    into.max = math.max(into.max, p.max)
    into.min = math.min(into.min, p.min)
    if (sums) into.sum = plus(into.sum, p.sum, ansi)
    into.dsum += p.dsum
  }
}
