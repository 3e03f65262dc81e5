package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/**
 * Typed custom-aggregation surface — the Spark-native mirror of the
 * reference's `Aggregator` strategy interface
 * (`common/aggregation/Aggregator.java:16-23`, SURVEY §2.1 X2): where the
 * reference dispatches `compute(per-cell)` + `wrapForTransport(serialize)`
 * per aggregate, we provide `Aggregator[IN, BUF, OUT]` implementations whose
 * buffers Catalyst serializes with Tungsten encoders and merges partial/final
 * automatically — the same split the coprocessor + client callbacks perform
 * by hand (`TimeseriesAggregationClient.java:160-508`).
 *
 * Register with `spark.udf.register(name, udaf(agg))` for SQL use, or call
 * `.toColumn` in typed Dataset pipelines; both forms drop into
 * `TsAgg.aggregate(df, spec, Seq(...))` unchanged.
 */
object Aggregators {

  /** (sum, count) pair — the exact partial state the reference's AVG ships
    * (`Avg.java:22-40`: `Pair(count, sum)` per bucket). */
  case class AvgBuf(sum: Double, count: Long)

  /** AVG as global-sum/global-count (SURVEY §2.3 #6) — equivalent to the
    * built-in `avg`; kept as the canonical plug-in example. */
  object AvgAggregator extends Aggregator[Double, AvgBuf, Double] {
    def zero: AvgBuf = AvgBuf(0.0, 0L)
    def reduce(b: AvgBuf, v: Double): AvgBuf = AvgBuf(b.sum + v, b.count + 1)
    def merge(a: AvgBuf, b: AvgBuf): AvgBuf = AvgBuf(a.sum + b.sum, a.count + b.count)
    def finish(b: AvgBuf): Double = if (b.count == 0) Double.NaN else b.sum / b.count
    def bufferEncoder: Encoder[AvgBuf] = Encoders.product[AvgBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  case class WAvgIn(value: Double, weight: Double)
  case class WAvgBuf(wsum: Double, weight: Double)

  /** Weighted average — README.md:31-32's planned operator as a typed UDAF. */
  object WeightedAvgAggregator extends Aggregator[WAvgIn, WAvgBuf, Double] {
    def zero: WAvgBuf = WAvgBuf(0.0, 0.0)
    def reduce(b: WAvgBuf, v: WAvgIn): WAvgBuf = WAvgBuf(b.wsum + v.value * v.weight, b.weight + v.weight)
    def merge(a: WAvgBuf, b: WAvgBuf): WAvgBuf = WAvgBuf(a.wsum + b.wsum, a.weight + b.weight)
    def finish(b: WAvgBuf): Double = if (b.weight == 0) Double.NaN else b.wsum / b.weight
    def bufferEncoder: Encoder[WAvgBuf] = Encoders.product[WAvgBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Register the plug-in aggregates for SQL (`SELECT wavg(v, w) ...`). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    AggConf.ensureHashAggHeadroom(spark) // fixed-size buffers — same bound as TopK
    spark.udf.register("graft_avg", udaf(AvgAggregator))
    spark.udf.register("graft_wavg", udaf(WeightedAvgAggregator))
  }
}
