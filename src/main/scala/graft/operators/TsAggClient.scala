package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.{SortedMap, mutable}
import scala.jdk.CollectionConverters._

import graft.functions.expressions.BytesBEToLong
import graft.operators.BucketFold.{Acc, Partial}
import graft.sources.cells.{CellBucketFold, GraftCellsScan, GraftCellsTable}

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
 * scan, one job, no exchange. Where the fold runs:
 *  - **In the region reader**, for a [[CellScan]] read over one
 *    `graft-cells` relation or a `Union` of them, whose decoder the reader
 *    evaluates exactly (`Decoders.longBE`/`intBE`, any
 *    `BytesBEToLong(value, width, signed)`, or a typed decoder over
 *    `value_long`/`value_double`): each cell's time is decoded once from its
 *    key and qualifier bytes and out-of-range cells never become rows, so
 *    only regions × buckets partials leave the scan.
 *  - **Over the frame's rows** (the generic path) for every other read: a
 *    typed `mapPartitions` after the codegen'd filter and bucket projection.
 *    That covers Parquet frames, keyed-Parquet `CellScan` reads, a filtered
 *    or projected `graft-cells` frame and any other decoder.
 *
 * When the input is not a single-stage scan, or partitions × buckets exceeds
 * [[MaxDriverPartials]], the read takes the shuffle path instead: one scan,
 * one shuffle and two jobs, with no global sort, because the `SortedMap`
 * orders the buckets on the driver. [[summary]] merges on the driver too, so
 * it is eager: it runs its job before it returns.
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

  def max(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] =
    longs(Max, read(df, scan, spec, Max))
  def min(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] =
    longs(Min, read(df, scan, spec, Min))
  def sum(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] =
    longs(Sum, read(df, scan, spec, Sum))
  def count(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Long] =
    longs(Count, read(df, scan, spec, Count))
  def avg(df: DataFrame, scan: CellScan, spec: TsAggSpec): SortedMap[Long, Double] =
    doubles(read(df, scan, spec, Avg))

  def max(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = longs(Max, read(df, spec, Max))

  def min(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = longs(Min, read(df, spec, Min))

  def sum(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = longs(Sum, read(df, spec, Sum))

  /** Exposed as a first-class query — the reference declares the RPC but ships
    * no client method (SURVEY §2.1 "API surface asymmetry"). */
  def count(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Long] = longs(Count, read(df, spec, Count))

  /** Always Double, global-sum/global-count (SURVEY §2.3 #6).
    * All-null buckets are omitted, consistent with the integral collectors. */
  def avg(df: DataFrame, spec: TsAggSpec): SortedMap[Long, Double] = doubles(read(df, spec, Avg))

  /** The map-returning client surface mirrors the reference: one series per
    * scan. Series-grouped specs return (series, bucket, value) rows — use the
    * DataFrame API (`TsAgg.*`) for those; a positional collect here would
    * silently build a garbage map. */
  private def requireSingleSeries(spec: TsAggSpec): Unit =
    require(spec.seriesCols.isEmpty,
      s"TsAggClient returns bucket->value maps and supports only ungrouped specs; " +
        s"got seriesCols=${spec.seriesCols.mkString(",")} - use TsAgg directly")

  /**
   * All five aggregates in ONE scan — the capability the reference
   * fundamentally lacks (one RPC per aggregate = 5 scans for a 5-metric
   * dashboard; `README.md:5` celebrates 1 scan per *single* metric).
   *
   * EAGER for an ungrouped spec over a Long or Int value column: the call
   * runs one job whose partitions fold all five aggregates per bucket, the
   * driver merges them (as the map reads do) and the result is a local
   * DataFrame sorted by bucket, with the schema, nullability included, of
   * the `TsAgg.aggregate` frame below; all-null buckets keep their
   * `count_value` beside null aggregates. Any other value type, a
   * series-grouped spec, or an input the driver merge declines (see the
   * object doc) returns that lazy frame itself: one scan + one shuffle, and
   * the sort's range exchange.
   */
  def summary(df: DataFrame, spec: TsAggSpec): DataFrame = {
    val frame = TsAgg.aggregate(df, spec, Summary.frame(spec))
    val merged = if (spec.seriesCols.nonEmpty) None else driverMerge(df, spec, Summary)
    merged.fold(frame) { m =>
      // Spark's max/min of an Int column stay Int; sum, count and avg widen
      val int = frame.schema("max_value").dataType == IntegerType
      def narrow(v: Long): Any = if (int) v.toInt else v
      val rows = m.keys.toSeq.sorted.map { b =>
        val a = m(b)
        if (a.n == 0) Row(b, null, null, null, a.cells, null)
        else Row(b, narrow(a.max), narrow(a.min), a.sum, a.cells, a.dsum / a.n)
      }
      df.sparkSession.createDataFrame(rows.asJava, frame.schema)
    }
  }

  /**
   * The most (partition × bucket) partials a read merges on the driver. A
   * read collects all its partials at once, under `spark.driver.maxResultSize`
   * (1 GiB by default); 2^22 partials are about 100 MB of collected rows.
   * Past the bound the read takes the shuffle path, whose final aggregate
   * runs on the executors.
   */
  private val MaxDriverPartials: BigInt = BigInt(1) << 22

  /** The aggregate(s) of one read: its `TsAgg` columns for the frame paths,
    * the value types whose driver-merge fold equals those columns exactly
    * (any other type takes the frame path, which accepts or rejects it as it
    * always has), and whether the fold keeps the Long sum. */
  private sealed abstract class Agg(val frame: TsAggSpec => Seq[Column], val folds: DataType => Boolean,
      val sums: Boolean = false) extends Serializable
  private case object Max extends Agg(s => Seq(TsAgg.maxValue(s)), Set[DataType](LongType, IntegerType))
  private case object Min extends Agg(s => Seq(TsAgg.minValue(s)), Set[DataType](LongType, IntegerType))
  // Spark's sum of any integral type is a Long sum
  private case object Sum extends Agg(s => Seq(TsAgg.sumValue(s)),
    Set[DataType](LongType, IntegerType, ShortType, ByteType), sums = true)
  private case object Count extends Agg(_ => Seq(TsAgg.countValue), _ => true)
  // Spark's avg of a non-decimal numeric casts each value to Double
  private case object Avg extends Agg(s => Seq(TsAgg.avgValue(s)),
    Set[DataType](LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType))
  private case object Summary extends Agg(s => Seq(TsAgg.maxValue(s), TsAgg.minValue(s),
    TsAgg.sumValue(s), TsAgg.countValue, TsAgg.avgValue(s)), Set[DataType](LongType, IntegerType),
    sums = true)

  /** One partition's partials: `rows` are (bucket, value) — (bucket) for
    * count — and a null value counts its cell only. */
  private def foldPartition(agg: Agg, ansi: Boolean)(rows: Iterator[Row]): Iterator[Partial] = {
    val buckets = mutable.LongMap.empty[Acc]
    rows.foreach { r =>
      val into = buckets.getOrElseUpdate(r.getLong(0), new Acc)
      into.cells += 1
      if (agg != Count && !r.isNullAt(1)) {
        if (agg == Avg) BucketFold.addDouble(into, r.getDouble(1))
        else BucketFold.addLong(into, r.getLong(1), agg.sums, ansi)
      }
    }
    buckets.iterator.map { case (b, a) => Partial(b, a.cells, a.n, a.max, a.min, a.sum, a.dsum) }
  }

  /** Partitions of `plan` when it runs as one stage (no exchange, adaptive
    * re-plan or subquery); building its RDD runs no job. */
  private def stagePartitions(plan: SparkPlan): Option[Int] =
    if (plan.find(p => p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[Exchange] ||
        p.subqueries.nonEmpty).isDefined) None
    else Some(plan.execute().getNumPartitions)

  private def ansi(df: DataFrame): Boolean = df.sparkSession.sessionState.conf.ansiEnabled

  /** The driver merge of `partials` in one job, or None when their plan is
    * not one stage or partitions × buckets passes [[MaxDriverPartials]]. */
  private def merged(partials: Dataset[Partial], spec: TsAggSpec, agg: Agg,
      ansi: Boolean): Option[mutable.LongMap[Acc]] = {
    val buckets = (BigInt(spec.scanLastMs) - spec.mode.t0Ms) / spec.intervalMs + 1
    stagePartitions(partials.queryExecution.executedPlan)
      .filter(n => BigInt(n) * buckets <= MaxDriverPartials)
      .map { _ =>
        val m = mutable.LongMap.empty[Acc]
        partials.collect().foreach(p => BucketFold.merge(m.getOrElseUpdate(p.bucket, new Acc), p, agg.sums, ansi))
        m
      }
  }

  /**
   * The driver-merge read over a frame: one job folds each partition's
   * filtered, bucketed rows into partials (a typed `mapPartitions`, so the
   * filter and bucket projection stay codegen'd and the read is one SQL
   * execution), and the driver merges them per bucket. None when the value
   * type, the plan's shape or partitions × buckets rules it out.
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
      merged(r.mapPartitions(foldPartition(agg, ansi(df)))(BucketFold.partialEncoder), spec, agg, ansi(df))
    }
  }

  /**
   * The read's partials folded inside the `graft-cells` region readers
   * ([[CellBucketFold]]): one scan per region directory, unioned, so the
   * read stays one job and one SQL execution and registers nothing in the
   * session. None unless `df` is one `graft-cells` relation or a `Union` of
   * them, `scan` names their `key` and `qual` fields, and its decoder is one
   * the reader evaluates exactly over a value type `agg` folds.
   */
  private def regionFold(df: DataFrame, scan: CellScan, spec: TsAggSpec, agg: Agg): Option[Dataset[Partial]] = {
    def relations(p: LogicalPlan): Option[Seq[DataSourceV2Relation]] = p match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftCellsTable] => Some(Seq(r))
      case u: Union if !u.byName && !u.allowMissingCol =>
        u.children.foldLeft(Option(Seq.empty[DataSourceV2Relation])) { (acc, c) =>
          acc.flatMap(a => relations(c).map(a ++ _))
        }
      case _ => None
    }
    val value: Option[(CellBucketFold.Value, DataType)] =
      GraftBridge.toExpression(scan.decoder(col(scan.valueCol))) match {
        case BytesBEToLong(bin, width, signed) if GraftBridge.columnName(bin).contains("value") =>
          Some(CellBucketFold.BigEndian(width, signed) -> LongType)
        case e => GraftBridge.columnName(e).collect {
          case "value_long" => CellBucketFold.LongField -> LongType
          case "value_double" => CellBucketFold.DoubleField -> DoubleType
        }
      }
    for {
      rels <- relations(df.queryExecution.analyzed)
      if scan.keyCol == "key" && scan.qualCol == "qual"
      (read, dataType) <- value
      if agg.folds(dataType)
    } yield {
      val mask = graft.functions.RowKeys.parseMask(scan.mask)
      scan.keyRange.foreach { case (start, stop) => graft.functions.RowKeys.requireKeyRange(start, stop) }
      val fold = CellBucketFold(mask.offset, mask.length, spec.mode.t0Ms, spec.scanLastMs,
        spec.intervalMs, if (agg == Count) CellBucketFold.NoValue else read, agg.sums, ansi(df))
      val schema = BucketFold.partialEncoder.schema
      val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      rels.map { r =>
        val cells = new GraftCellsScan(r.table.asInstanceOf[GraftCellsTable].path, schema,
          Array.empty, scan.keyRange.map(_._1), scan.keyRange.map(_._2), fold = Some(fold))
        GraftBridge.toDataFrame(df.sparkSession, DataSourceV2ScanRelation(r, cells, output))
      }.reduce(_ union _).as[Partial](BucketFold.partialEncoder)
    }
  }

  /** A map read's buckets over a frame: Right, merged on the driver; Left,
    * the shuffle path's unsorted (bucket, value) rows — no global sort runs,
    * the `SortedMap` the callers build orders them. */
  private def read(df: DataFrame, spec: TsAggSpec, agg: Agg): Either[Array[Row], mutable.LongMap[Acc]] =
    driverMerge(df, spec, agg).toRight(TsAgg.bucketed(df, spec, agg.frame(spec)).collect())

  /** A [[CellScan]] read: folded in the region readers when [[regionFold]]
    * applies and its partials fit the driver merge, else over the decoded
    * cells. */
  private def read(df: DataFrame, scan: CellScan, spec: TsAggSpec, agg: Agg): Either[Array[Row], mutable.LongMap[Acc]] = {
    requireSingleSeries(spec)
    regionFold(df, scan, spec, agg).flatMap(merged(_, spec, agg, ansi(df))) match {
      case Some(m) => Right(m)
      case None =>
        val (cells, s) = prepare(df, scan, spec)
        read(cells, s, agg)
    }
  }

  /** All-null buckets (aggregate value null) are OMITTED from the map — the
    * reference never emits a bucket without a defined value (SURVEY §2.3 #4/#7),
    * and mapping null to 0 would fabricate a sum of zero. */
  private def longs(agg: Agg, read: Either[Array[Row], mutable.LongMap[Acc]]): SortedMap[Long, Long] =
    read match {
      case Right(m) => SortedMap.from(m.iterator.collect {
        case (b, a) if agg == Count => b -> a.cells
        case (b, a) if a.n > 0 => b -> (agg match {
          case Max => a.max
          case Min => a.min
          case _ => a.sum
        })
      })
      case Left(rows) => SortedMap.from(rows.flatMap { r =>
        r.get(1) match {
          case l: java.lang.Long => Some(r.getLong(0) -> l.longValue())
          case i: java.lang.Integer => Some(r.getLong(0) -> i.longValue())
          case null => None
          case other => throw new IllegalArgumentException(
            s"integral aggregate expected, got $other (use avg for Double results)")
        }
      })
    }

  private def doubles(read: Either[Array[Row], mutable.LongMap[Acc]]): SortedMap[Long, Double] =
    read match {
      case Right(m) => SortedMap.from(m.iterator.collect { case (b, a) if a.n > 0 => b -> a.dsum / a.n })
      case Left(rows) => SortedMap.from(rows.flatMap { r =>
        if (r.isNullAt(1)) None else Some(r.getLong(0) -> r.getDouble(1))
      })
    }
}
