package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.SortedMap

/**
 * Drop-in façade mirroring the reference's client surface
 * (`TimeseriesAggregationClient.max/min/sum/avg`,
 * `TimeseriesAggregationClient.java:129,229,329,522`, plus the server-only
 * count RPC): each method runs the distributed aggregation and collects the
 * result to the reference's return shape, a sorted `Map[bucketStartMillis →
 * value]` (`ConcurrentSkipListMap`, :129-131). Collect happens only at this
 * API edge — the heavy lifting stays in the cluster plan. A map read is one
 * scan, one shuffle and two jobs: the plan skips [[TsAgg.aggregate]]'s global
 * sort, because the `SortedMap` orders the buckets on the driver.
 *
 * A user of the reference can switch: `client.max(table, ci, scan)` becomes
 * `TsAggClient.max(df, spec)` where the decoded value column replaces the
 * `ColumnInterpreter` (see [[graft.functions.Decoders]]) and `TsAggSpec`
 * replaces the request proto.
 */
object TsAggClient {

  /**
   * The reference's `Scan` equivalent for binary cell tables: which columns
   * hold the rowkey / qualifier / raw value, the timestamp mask, the value
   * interpreter, and an optional rowkey range (`setStartRow`/`setStopRow`,
   * `TimeseriesAggregationClient.java:575-581`). With this, the reference's
   * three-argument call shape `client.max(table, interpreter, scan)` maps
   * 1:1 to `TsAggClient.max(df, scan, spec)` — the mask and decoder do what
   * the coprocessor's `TimeseriesRange` + `ColumnInterpreter` did.
   */
  final case class CellScan(
      mask: String,
      keyCol: String = "key",
      qualCol: String = "qual",
      valueCol: String = "value",
      decoder: graft.functions.Decoders.Decoder = graft.functions.Decoders.longBE,
      keyRange: Option[(Array[Byte], Array[Byte])] = None)

  /** Binary cells → (logical ts millis, decoded value) under `scan`; the
    * returned spec points at the derived columns. */
  private def prepare(df: DataFrame, scan: CellScan, spec: TsAggSpec): (DataFrame, TsAggSpec) = {
    import graft.functions.{Decoders, RowKeys}
    val ranged = scan.keyRange match {
      case Some((start, stop)) => df.filter(RowKeys.keyRangeFilter(col(scan.keyCol), start, stop))
      case None => df
    }
    val cells = ranged
      .withColumn("__graft_ts",
        RowKeys.keyMillis(col(scan.keyCol), scan.mask, Decoders.intBE(col(scan.qualCol))))
      .withColumn("__graft_value", scan.decoder(col(scan.valueCol)))
    (cells, spec.copy(tsCol = "__graft_ts", valueCol = "__graft_value"))
  }

  def max(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] = {
    val (cells, s) = prepare(df, scan, spec); max(cells, s)
  }
  def min(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] = {
    val (cells, s) = prepare(df, scan, spec); min(cells, s)
  }
  def sum(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] = {
    val (cells, s) = prepare(df, scan, spec); sum(cells, s)
  }
  def count(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] = {
    val (cells, s) = prepare(df, scan, spec); count(cells, s)
  }
  def avg(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Double] = {
    val (cells, s) = prepare(df, scan, spec); avg(cells, s)
  }

  def max(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] =
    collectLong(df, spec, TsAgg.maxValue(spec))

  def min(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] =
    collectLong(df, spec, TsAgg.minValue(spec))

  def sum(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] =
    collectLong(df, spec, TsAgg.sumValue(spec))

  /** Exposed as a first-class query — the reference declares the RPC but ships
    * no client method (SURVEY §2.1 "API surface asymmetry"). */
  def count(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] =
    collectLong(df, spec, TsAgg.countValue)

  /** Always Double, global-sum/global-count (SURVEY §2.3 #6).
    * All-null buckets are omitted, consistent with the integral collectors. */
  def avg(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Double] =
    SortedMap.from(collectBuckets(df, spec, TsAgg.avgValue(spec)).flatMap { r =>
      if (r.isNullAt(1)) None else Some(r.getLong(0) -> r.getDouble(1))
    })

  /** The map-returning client surface mirrors the reference: one series per
    * scan. Series-grouped specs return (series, bucket, value) rows — use the
    * DataFrame API (`TsAgg.*`) for those; a positional collect here would
    * silently build a garbage map. */
  private def requireSingleSeries(spec: TsAggSpec): Unit =
    require(spec.seriesCols.isEmpty,
      s"TsAggClient returns bucket->value maps and supports only ungrouped specs; " +
        s"got seriesCols=${spec.seriesCols.mkString(",")} - use TsAgg directly")

  /**
   * All five aggregates in ONE scan + one shuffle — the capability the
   * reference fundamentally lacks (one RPC per aggregate = 5 scans for a
   * 5-metric dashboard; `README.md:5` celebrates 1 scan per *single* metric).
   * That is the aggregation; the returned DataFrame is sorted by bucket like
   * every `TsAgg.*` frame, which adds the sort's range exchange.
   */
  def summary(df: DataFrame, spec: TsAggSpec): DataFrame =
    TsAgg.aggregate(df, spec, Seq(TsAgg.maxValue(spec), TsAgg.minValue(spec),
      TsAgg.sumValue(spec), TsAgg.countValue, TsAgg.avgValue(spec)))

  /** One scan + one shuffle, collected: the unsorted (bucket, value) rows.
    * No global sort runs — the `SortedMap` the callers build orders them. */
  private def collectBuckets(df: DataFrame, spec: TsAggSpec, agg: Column): Array[Row] = {
    requireSingleSeries(spec)
    TsAgg.bucketed(df, spec, Seq(agg)).collect()
  }

  /** All-null buckets (aggregate value null) are OMITTED from the map — the
    * reference never emits a bucket without a defined value (SURVEY §2.3 #4/#7),
    * and mapping null to 0 would fabricate a sum of zero. */
  private def collectLong(df: DataFrame, spec: TsAggSpec, agg: Column): SortedMap[Long, Long] =
    SortedMap.from(collectBuckets(df, spec, agg).flatMap { r =>
      r.get(1) match {
        case l: java.lang.Long => Some(r.getLong(0) -> l.longValue())
        case i: java.lang.Integer => Some(r.getLong(0) -> i.longValue())
        case null => None
        case other => throw new IllegalArgumentException(
          s"integral aggregate expected, got $other (use avg for Double results)")
      }
    })
}
