package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.{SortedMap, mutable}

/**
 * Drop-in façade mirroring the reference's client surface
 * (`TimeseriesAggregationClient.max/min/sum/avg`,
 * `TimeseriesAggregationClient.java:129,229,329,522`, plus the server-only
 * count RPC): each method runs the distributed aggregation and collects the
 * result to the reference's return shape, a sorted `Map[bucketStartMillis →
 * value]` (`ConcurrentSkipListMap`, :129-131). Collect happens only at this
 * API edge — the heavy lifting stays in the cluster plan.
 *
 * A map read is shaped like the reference's round: each input partition
 * folds its in-range cells into one partial per bucket (≈ the per-region
 * `AggregationBuilder`, `:74-115`) and the driver merges the collected
 * partials into the `SortedMap` (≈ the client callbacks, `:160-508`) — one
 * scan, one job, no exchange. When the input is not a single-stage scan, or
 * partitions × buckets exceeds [[MaxDriverPartials]], the read takes the
 * shuffle path instead: one scan, one shuffle and two jobs, with no global
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

  def max(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = collectLong(df, spec, Max)

  def min(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = collectLong(df, spec, Min)

  def sum(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = collectLong(df, spec, Sum)

  /** Exposed as a first-class query — the reference declares the RPC but ships
    * no client method (SURVEY §2.1 "API surface asymmetry"). */
  def count(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = collectLong(df, spec, Count)

  /** Always Double, global-sum/global-count (SURVEY §2.3 #6).
    * All-null buckets are omitted, consistent with the integral collectors. */
  def avg(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Double] =
    driverMerge(df, spec, Avg) match {
      case Some(m) => SortedMap.from(m.iterator.map { case (b, a) => b -> a.dsum / a.n })
      case None => SortedMap.from(shuffleRead(df, spec, Avg).flatMap { r =>
        if (r.isNullAt(1)) None else Some(r.getLong(0) -> r.getDouble(1))
      })
    }

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

  /**
   * The most (partition × bucket) partials a read merges on the driver. A
   * read collects all its partials at once, under `spark.driver.maxResultSize`
   * (1 GiB by default); 2^22 partials are about 100 MB of collected rows.
   * Past the bound the read takes the shuffle path, whose final aggregate
   * runs on the executors.
   */
  private val MaxDriverPartials: BigInt = BigInt(1) << 22

  /** The aggregate of one map read: its `TsAgg` column for the shuffle path,
    * and the value types whose driver-merge fold equals that column exactly
    * (any other type takes the shuffle path, which accepts or rejects it as
    * it always has). */
  private sealed abstract class Agg(val frame: TsAggSpec => Column, val folds: DataType => Boolean)
      extends Serializable
  private case object Max extends Agg(TsAgg.maxValue, Set[DataType](LongType, IntegerType))
  private case object Min extends Agg(TsAgg.minValue, Set[DataType](LongType, IntegerType))
  // Spark's sum of any integral type is a Long sum
  private case object Sum extends Agg(TsAgg.sumValue,
    Set[DataType](LongType, IntegerType, ShortType, ByteType))
  private case object Count extends Agg(_ => TsAgg.countValue, _ => true)
  // Spark's avg of a non-decimal numeric casts each value to Double
  private case object Avg extends Agg(TsAgg.avgValue,
    Set[DataType](LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType))

  /** One bucket's running aggregate: `n` values folded (every cell for
    * count), their max, min or Long sum in `acc`, their Double sum in `dsum`.
    * A partition fold and the driver merge both grow it through [[add]]. */
  private final class Acc(var n: Long = 0L, var acc: Long = 0L, var dsum: Double = 0.0)

  /** One input partition's [[Acc]] for one bucket, as collected. */
  private[operators] final case class Partial(bucket: Long, n: Long, acc: Long, dsum: Double)

  /** Folds `n` values whose aggregate is `acc`/`dsum` into `into`. A Long
    * sum overflows as Spark's `sum` does under the session: `addExact`
    * raises with ANSI on and the sum wraps with it off. */
  private def add(agg: Agg, ansi: Boolean, into: Acc, n: Long, acc: Long, dsum: Double): Unit = {
    into.acc =
      if (into.n == 0) acc
      else agg match {
        case Max => math.max(into.acc, acc)
        case Min => math.min(into.acc, acc)
        case Sum => if (ansi) Math.addExact(into.acc, acc) else into.acc + acc
        case _ => into.acc
      }
    into.n += n
    into.dsum += dsum
  }

  /** One partition's partials: `rows` are (bucket, value) — (bucket) for
    * count — and null values are skipped, so a bucket whose values are all
    * null yields no partial. */
  private def foldPartition(agg: Agg, ansi: Boolean)(rows: Iterator[Row]): Iterator[Partial] = {
    val buckets = mutable.LongMap.empty[Acc]
    rows.foreach { r =>
      if (agg == Count) add(agg, ansi, buckets.getOrElseUpdate(r.getLong(0), new Acc), 1, 0L, 0.0)
      else if (!r.isNullAt(1)) {
        val into = buckets.getOrElseUpdate(r.getLong(0), new Acc)
        if (agg == Avg) add(agg, ansi, into, 1, 0L, r.getDouble(1))
        else add(agg, ansi, into, 1, r.getLong(1), 0.0)
      }
    }
    buckets.iterator.map { case (b, a) => Partial(b, a.n, a.acc, a.dsum) }
  }

  /** Partitions of `plan` when it runs as one stage (no exchange, adaptive
    * re-plan or subquery); building its RDD runs no job. */
  private def stagePartitions(plan: SparkPlan): Option[Int] =
    if (plan.find(p => p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[Exchange] ||
        p.subqueries.nonEmpty).isDefined) None
    else Some(plan.execute().getNumPartitions)

  /**
   * The driver-merge read: one job folds each partition's filtered, bucketed
   * rows into partials (a typed `mapPartitions`, so the filter and bucket
   * projection stay codegen'd and the read is one SQL execution), and the
   * driver merges them per bucket. None when the value type, the plan's
   * shape or partitions × buckets rules it out.
   */
  private def driverMerge(df: DataFrame, spec: TsAggSpec, agg: Agg): Option[mutable.LongMap[Acc]] = {
    requireSingleSeries(spec)
    val bucketed = TsAgg.withBuckets(df, spec)
    val rows = agg match {
      case Count => Some(bucketed.select(col("bucket_start")))
      case _ =>
        val v = bucketed.select(col("bucket_start"), col(spec.valueCol).as("value"))
        if (!agg.folds(v.schema("value").dataType)) None
        else Some(v.withColumn("value", col("value").cast(if (agg == Avg) DoubleType else LongType)))
    }
    rows.flatMap { r =>
      val ansi = df.sparkSession.sessionState.conf.ansiEnabled
      val partials = r.mapPartitions(foldPartition(agg, ansi))(Encoders.product[Partial])
      val buckets = (BigInt(spec.scanLastMs) - spec.mode.t0Ms) / spec.intervalMs + 1
      stagePartitions(partials.queryExecution.executedPlan)
        .filter(n => BigInt(n) * buckets <= MaxDriverPartials)
        .map { _ =>
          val merged = mutable.LongMap.empty[Acc]
          partials.collect().foreach { p =>
            add(agg, ansi, merged.getOrElseUpdate(p.bucket, new Acc), p.n, p.acc, p.dsum)
          }
          merged
        }
    }
  }

  /** The shuffle read, when [[driverMerge]] declines: one scan + one shuffle,
    * collected as unsorted (bucket, value) rows. No global sort runs — the
    * `SortedMap` the callers build orders them. */
  private def shuffleRead(df: DataFrame, spec: TsAggSpec, agg: Agg): Array[Row] =
    TsAgg.bucketed(df, spec, Seq(agg.frame(spec))).collect()

  /** All-null buckets (aggregate value null) are OMITTED from the map — the
    * reference never emits a bucket without a defined value (SURVEY §2.3 #4/#7),
    * and mapping null to 0 would fabricate a sum of zero. */
  private def collectLong(df: DataFrame, spec: TsAggSpec, agg: Agg): SortedMap[Long, Long] =
    driverMerge(df, spec, agg) match {
      case Some(m) =>
        SortedMap.from(m.iterator.map { case (b, a) => b -> (if (agg == Count) a.n else a.acc) })
      case None => SortedMap.from(shuffleRead(df, spec, agg).flatMap { r =>
        r.get(1) match {
          case l: java.lang.Long => Some(r.getLong(0) -> l.longValue())
          case i: java.lang.Integer => Some(r.getLong(0) -> i.longValue())
          case null => None
          case other => throw new IllegalArgumentException(
            s"integral aggregate expected, got $other (use avg for Double results)")
        }
      })
    }
}
