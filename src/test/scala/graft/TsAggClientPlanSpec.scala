package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerSync
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Decoders, RowKeys}
import graft.operators.{TimeMode, TsAgg, TsAggClient, TsAggSpec}

/**
 * The client's map reads: one scan, one shuffle, no global sort — the
 * `SortedMap` orders the buckets — over each source form the client serves
 * (the relational events table, binary cells in Parquet through a
 * `CellScan`, and the same cells through `graft-cells`), with answers equal
 * to the sorted `TsAgg.*` DataFrames at any shuffle partition count.
 */
class TsAggClientPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val t0 = 1704067200000L
  private val day = 86400000L
  private val spec = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 7 * day))
  private val mask = "000000001111"

  private type Aggs = Seq[(String, SortedMap[Long, Any])]

  /** One source form: its five client maps and the five sorted TsAgg frames
    * they must equal. */
  private case class Form(name: String, client: () => Aggs, sorted: () => Aggs)

  private def aggNames = Seq("max", "min", "sum", "count", "avg")

  /** The sorted DataFrame's rows as (bucket, value) pairs, in frame order,
    * all-null buckets dropped as the client drops them. */
  private def rows(df: DataFrame): SortedMap[Long, Any] = {
    val pairs = df.collect().toSeq.filterNot(_.isNullAt(1)).map(r => r.getLong(0) -> r.get(1))
    assert(pairs.map(_._1) == pairs.map(_._1).sorted, "TsAgg frames stay sorted")
    SortedMap.from(pairs)
  }

  private def frameAggs(df: DataFrame, s: TsAggSpec): Aggs = Seq(
    "max" -> rows(TsAgg.max(df, s)), "min" -> rows(TsAgg.min(df, s)),
    "sum" -> rows(TsAgg.sum(df, s)), "count" -> rows(TsAgg.count(df, s)),
    "avg" -> rows(TsAgg.avg(df, s)))

  private def clientAggs(df: DataFrame, s: TsAggSpec): Aggs = Seq(
    "max" -> TsAggClient.max(df, s), "min" -> TsAggClient.min(df, s),
    "sum" -> TsAggClient.sum(df, s), "count" -> TsAggClient.count(df, s),
    "avg" -> TsAggClient.avg(df, s))

  private def forms(): Seq[Form] = {
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("value_cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val evSpec = spec.copy(valueCol = "value_cents")
    val scan = TsAggClient.CellScan(mask)
    // the CellScan decode spelled out, for the sorted frames to compare with
    def decoded(cells: DataFrame) = cells
      .withColumn("ts_ms", RowKeys.keyMillis(col("key"), mask, Decoders.intBE(col("qual"))))
      .withColumn("v", Decoders.longBE(col("value")))
    val cellSpec = spec.copy(tsCol = "ts_ms", valueCol = "v")
    def cellForm(name: String, cells: DataFrame) = Form(name,
      () => Seq(
        "max" -> TsAggClient.max(cells, scan, spec), "min" -> TsAggClient.min(cells, scan, spec),
        "sum" -> TsAggClient.sum(cells, scan, spec), "count" -> TsAggClient.count(cells, scan, spec),
        "avg" -> TsAggClient.avg(cells, scan, spec)),
      () => frameAggs(decoded(cells), cellSpec))
    Seq(
      Form("events", () => clientAggs(events, evSpec), () => frameAggs(events, evSpec)),
      cellForm("cells-parquet", graft.sources.Fixtures.keyedEvents(spark, sf)),
      cellForm("graft-cells", graft.sources.cells.CellRegions.read(spark, sf)))
  }

  /** Runs `f` and returns the executed plans of the `collect` actions it ran. */
  private def collectPlans[T](f: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftListenerSync.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = f
      GraftListenerSync.waitUntilEmpty(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try f
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("client map reads: one exchange and no sort per collect, over every source form") {
    forms().foreach { form =>
      val (maps, plans) = collectPlans(form.client())
      assert(maps.map(_._1) == aggNames)
      assert(plans.size == aggNames.size, s"${form.name}: one collect per client call")
      plans.foreach { p =>
        val exchanges = collect(p) { case e: Exchange => e }
        val sorts = collect(p) { case s: SortExec => s }
        assert(exchanges.size == 1, s"${form.name}: exactly one exchange:\n$p")
        assert(sorts.isEmpty, s"${form.name}: no sort, the SortedMap orders the buckets:\n$p")
      }
    }
  }

  test("client maps equal the sorted TsAgg frames at 1, 3 and 8 shuffle partitions") {
    forms().foreach { form =>
      val expected = form.sorted()
      assert(expected.forall(_._2.nonEmpty), s"${form.name}: the range holds buckets")
      Seq(1, 3, 8).foreach { n =>
        val got = withShufflePartitions(n)(form.client())
        got.zip(expected).foreach { case ((agg, g), (_, e)) =>
          assert(g.toSeq == e.toSeq, s"${form.name} $agg at $n shuffle partitions")
        }
      }
    }
  }
}
