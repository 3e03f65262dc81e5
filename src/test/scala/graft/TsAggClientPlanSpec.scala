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
import graft.functions.expressions.BinaryCodec
import graft.operators.{TimeMode, TsAgg, TsAggClient, TsAggSpec}

/**
 * The client's map reads: one scan, one job, no exchange — each partition
 * folds its partials and the driver merges them — over each source form the
 * client serves (the relational events table, binary cells in Parquet
 * through a `CellScan`, and the same cells through `graft-cells`), with
 * answers equal to the sorted `TsAgg.*` DataFrames at any shuffle partition
 * count; and the same answers on the edges of the merge: integer values,
 * nulls, Long overflow under either ANSI setting, and the shuffle fallback
 * past the partial bound. Reads that differ only in range and interval share
 * one generated class, while their plans stay apart for caching and their
 * bounds still reach the Parquet scan.
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

  /** The three source forms read over `s`; the typed form bounds its scan by
    * the spec, as a dashboard read does. */
  private def forms(s: TsAggSpec = spec): Seq[Form] = {
    val events = graft.sources.Tables.events(spark, sf, Some((s.mode.t0Ms, s.scanEndMs)))
      .withColumn("value_cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val evSpec = s.copy(valueCol = "value_cents")
    val scan = TsAggClient.CellScan(mask)
    // the CellScan decode spelled out, for the sorted frames to compare with
    def decoded(cells: DataFrame) = cells
      .withColumn("ts_ms", RowKeys.keyMillis(col("key"), mask, Decoders.intBE(col("qual"))))
      .withColumn("v", Decoders.longBE(col("value")))
    val cellSpec = s.copy(tsCol = "ts_ms", valueCol = "v")
    def cellForm(name: String, cells: DataFrame) = Form(name,
      () => Seq(
        "max" -> TsAggClient.max(cells, scan, s), "min" -> TsAggClient.min(cells, scan, s),
        "sum" -> TsAggClient.sum(cells, scan, s), "count" -> TsAggClient.count(cells, scan, s),
        "avg" -> TsAggClient.avg(cells, scan, s)),
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

  private def jobsOf[T](f: => T): (T, Int) = GraftListenerSync.jobsOf(spark.sparkContext)(f)

  /** The whole-stage generated sources of an executed plan. */
  private def sources(p: SparkPlan): Seq[String] =
    org.apache.spark.sql.execution.debug.codegenStringSeq(p).map(_._2)

  private def exchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withShufflePartitions[T](n: Int)(f: => T): T =
    withConf("spark.sql.shuffle.partitions", n.toString)(f)

  /** Asserts each map equals its frame and each client collect ran
    * `exchangesEach` exchanges. */
  private def assertMatches(name: String, df: DataFrame, s: TsAggSpec, exchangesEach: Int): Unit = {
    val (got, plans) = collectPlans(clientAggs(df, s))
    assert(plans.size == aggNames.size, s"$name: one collect per client call")
    plans.foreach(p => assert(exchanges(p) == exchangesEach, s"$name:\n$p"))
    got.zip(frameAggs(df, s)).foreach { case ((agg, g), (_, e)) =>
      assert(g.toSeq == e.toSeq, s"$name $agg")
    }
  }

  test("client map reads: one job, no exchange, no sort, on every source form") {
    forms().foreach { form =>
      form.client() // warm: the first read of a frame may plan more than later ones
      val (maps, plans) = collectPlans(form.client())
      assert(maps.map(_._1) == aggNames)
      assert(plans.size == aggNames.size, s"${form.name}: one collect per client call")
      plans.foreach { p =>
        val sorts = collect(p) { case s: SortExec => s }
        assert(exchanges(p) == 0, s"${form.name}: no exchange, the driver merges:\n$p")
        assert(sorts.isEmpty, s"${form.name}: no sort, the SortedMap orders the buckets:\n$p")
      }
      val (reads, jobs) = jobsOf(form.client())
      assert(jobs == reads.size, s"${form.name}: one job per map read, got $jobs for ${reads.size}")
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

  /** `cells` — `(key, qual, value, value_long, value_double, event_type)` —
    * written as a fresh region directory of `regions` files and read back. */
  private def regionFrame(cells: DataFrame, regions: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("gcell-client").toString + "/regions"
    graft.sources.cells.CellRegions.writeRegionDir(cells, dir, regions)
    spark.read.format("graft-cells").load(dir)
  }

  /** Hand-made cells in perfbench's layout: key = 8-byte series ++ 4-byte
    * epoch hour, qual = 4-byte offset seconds, value = `value` bytes (its
    * `value_long` decoded when they are 8 bytes). */
  private def handCells(cells: Seq[(Array[Byte], Array[Byte], Array[Byte])]): DataFrame = {
    import spark.implicits._
    cells.map { case (k, q, v) =>
      (k, q, v, if (v.length == 8) BinaryCodec.decodeBE(v, 8, signed = true) else 0L, 0.0, "e")
    }.toDF("key", "qual", "value", "value_long", "value_double", "event_type")
  }
  private def key(series: Long, hourSec: Long) = BinaryCodec.be(series, 8) ++ BinaryCodec.be(hourSec, 4)

  private def scansOf(p: SparkPlan): Seq[graft.sources.cells.GraftCellsScan] = collect(p) {
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
  }.collect { case g: graft.sources.cells.GraftCellsScan => g }

  private def folded(p: SparkPlan): Boolean =
    scansOf(p).nonEmpty && scansOf(p).forall(_.description().contains("BucketFold"))

  private def cellMap(agg: String, df: DataFrame, scan: TsAggClient.CellScan, s: TsAggSpec): SortedMap[Long, Any] =
    agg match {
      case "max" => TsAggClient.max(df, scan, s)
      case "min" => TsAggClient.min(df, scan, s)
      case "sum" => TsAggClient.sum(df, scan, s)
      case "count" => TsAggClient.count(df, scan, s)
      case "avg" => TsAggClient.avg(df, scan, s)
    }

  private def cellMaps(df: DataFrame, scan: TsAggClient.CellScan, s: TsAggSpec): Aggs =
    aggNames.map(a => a -> cellMap(a, df, scan, s))

  /** The CellScan decode spelled out over `cells`, key range included. */
  private def decodedCells(cells: DataFrame, scan: TsAggClient.CellScan): DataFrame =
    scan.keyRange.fold(cells)(r => cells.filter(RowKeys.keyRangeFilter(col("key"), r._1, r._2)))
      .withColumn("ts_ms", RowKeys.keyMillis(col("key"), mask, Decoders.intBE(col("qual"))))
      .withColumn("v", scan.decoder(col(scan.valueCol)))

  /** The shapes a graft-cells read folds in its region readers: one region
    * directory, a union of two, and one directory under a key range. */
  private lazy val foldedShapes: Seq[(String, DataFrame, TsAggClient.CellScan, Int)] = {
    val base = graft.sources.cells.CellRegions.read(spark, sf)
    // the fixture's first half hour of every hour, as a second directory
    val second = regionFrame(graft.sources.Fixtures.keyedEvents(spark, sf)
      .filter(Decoders.intBE(col("qual")) < 1800)
      .select(col("key"), col("qual"), col("value"), Decoders.longBE(col("value")).as("value_long"),
        col("value_double"), col("event_type")), 3)
    val range = Some((key(5, 0), key(60, 0)))
    Seq(("one dir", base, TsAggClient.CellScan(mask), 8),
      ("two dirs", base.union(second), TsAggClient.CellScan(mask), 11),
      ("key range", base, TsAggClient.CellScan(mask, keyRange = range), 8))
  }

  test("a folded graft-cells read: one job, no exchange, at most regions × buckets rows past the reader") {
    val buckets = (spec.scanLastMs - t0) / spec.intervalMs + 1
    foldedShapes.foreach { case (name, df, scan, regions) =>
      val cells = df.count()
      val ((maps, plans), jobs) = jobsOf(collectPlans(cellMaps(df, scan, spec)))
      assert(jobs == aggNames.size, s"$name: one job per map read, got $jobs")
      assert(plans.size == aggNames.size, s"$name: one collect per client call")
      plans.foreach { p =>
        assert(folded(p), s"$name: the read folds in the region readers:\n$p")
        assert(exchanges(p) == 0, s"$name:\n$p")
      }
      assert(maps.forall(_._2.nonEmpty), s"$name: the range holds buckets")
      aggNames.foreach { agg =>
        val (_, rows) = GraftListenerSync.rowsReadOf(spark.sparkContext)(cellMap(agg, df, scan, spec))
        assert(rows <= regions * buckets && rows < cells,
          s"$name $agg: $rows rows past the readers, over $regions regions × $buckets buckets " +
            s"or the $cells cells")
      }
    }
  }

  test("folded graft-cells maps equal the sorted TsAgg frames at 1, 3 and 8 shuffle partitions") {
    val cellSpec = spec.copy(tsCol = "ts_ms", valueCol = "v")
    foldedShapes.foreach { case (name, df, scan, _) =>
      val expected = frameAggs(decodedCells(df, scan), cellSpec)
      assert(expected.forall(_._2.nonEmpty), s"$name: the range holds buckets")
      Seq(1, 3, 8).foreach { n =>
        withShufflePartitions(n)(cellMaps(df, scan, spec)).zip(expected).foreach { case ((agg, g), (_, e)) =>
          assert(g.toSeq == e.toSeq, s"$name $agg at $n shuffle partitions")
        }
      }
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a folded Long sum overflows as the frame path does: raises under ANSI, wraps with it off") {
    // two 2^62 cells in one region and one bucket: the region's own fold overflows
    val hour = t0 / 1000
    val df = regionFrame(handCells(Seq(1L, 2L).map(s =>
      (key(s, hour), BinaryCodec.be(0L, 4), BinaryCodec.be(1L << 62, 8)))), 1)
    val scan = TsAggClient.CellScan(mask)
    val s = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + day))
    // a frame fixes its ANSI mode when it is built
    def frame = TsAgg.sum(decodedCells(df, scan), s.copy(tsCol = "ts_ms", valueCol = "v"))
    withConf("spark.sql.ansi.enabled", "true") {
      val client = intercept[Exception](TsAggClient.sum(df, scan, s))
      assert(causes(client).exists(_.isInstanceOf[ArithmeticException]), client.toString)
      val e = intercept[Exception](frame.collect())
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
    withConf("spark.sql.ansi.enabled", "false") {
      val (got, plans) = collectPlans(TsAggClient.sum(df, scan, s))
      assert(plans.forall(folded), "the region readers folded the sum")
      assert(got.toSeq == Seq(t0 -> Long.MinValue), "2^62 + 2^62 wraps as Spark's sum wraps")
      assert(got.toSeq == rows(frame).toSeq)
    }
  }

  test("a wrong-length key or qualifier raises the frame path's error from the region fold") {
    val hour = t0 / 1000
    val good = (key(1, hour), BinaryCodec.be(0L, 4), BinaryCodec.be(7L, 8))
    val scan = TsAggClient.CellScan(mask)
    val s = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + day))
    Seq(
      "key" -> ((BinaryCodec.be(2, 8) ++ BinaryCodec.be(0L, 3), BinaryCodec.be(0L, 4), BinaryCodec.be(7L, 8)),
        "rowkey length != mask length 12: 0000000000000002000000"),
      "qualifier" -> ((key(2, hour), BinaryCodec.be(0L, 3), BinaryCodec.be(7L, 8)),
        "bytes_be_to_long: expected 4 bytes, got 3 (0x000000)")
    ).foreach { case (what, (bad, message)) =>
      val df = regionFrame(handCells(Seq(good, bad)), 1)
      val fold = intercept[Exception](TsAggClient.sum(df, scan, s))
      // an event_type filter keeps the read on the frame path
      val frame = intercept[Exception](TsAggClient.sum(df.filter(col("event_type") === "e"), scan, s))
      val (f, g) = (causes(fold).last, causes(frame).last)
      assert(f.getMessage.contains(message), s"$what: ${f.getMessage}")
      assert(f.getClass == g.getClass && f.getMessage == g.getMessage, s"$what: $f against $g")
    }
  }

  test("an unrecognized decoder or a filtered frame takes the frame path and still equals the frames") {
    val base = graft.sources.cells.CellRegions.read(spark, sf)
    // decimal-string values, for utf8Double
    val hour = t0 / 1000
    val strings = regionFrame(handCells((0L until 40L).map(i =>
      (key(i % 3, hour + 3600 * (i % 5)), BinaryCodec.be(i * 60, 4), s"${i * 7 - 90}.25".getBytes("UTF-8")))), 2)
    val cases = Seq(
      // fixedPoint values are decimals, which only count reads
      ("fixedPoint(2)", base, TsAggClient.CellScan(mask, decoder = Decoders.fixedPoint(2)), Seq("count")),
      ("utf8Double", strings, TsAggClient.CellScan(mask, decoder = Decoders.utf8Double), Seq("count", "avg")),
      ("event_type filter", base.filter(col("event_type") =!= "view"), TsAggClient.CellScan(mask), aggNames))
    val cellSpec = spec.copy(tsCol = "ts_ms", valueCol = "v")
    cases.foreach { case (name, df, scan, aggs) =>
      val (got, plans) = collectPlans(aggs.map(a => a -> cellMap(a, df, scan, spec)))
      assert(plans.nonEmpty && !plans.exists(folded), s"$name: the frame path runs")
      val expected = frameAggs(decodedCells(df, scan), cellSpec).filter(a => aggs.contains(a._1))
      assert(expected.forall(_._2.nonEmpty), s"$name: the range holds buckets")
      got.zip(expected).foreach { case ((agg, g), (_, e)) => assert(g.toSeq == e.toSeq, s"$name $agg") }
    }
  }

  /** The five summary columns, spelled out as a caller of `TsAgg.aggregate` would. */
  private def summaryFrame(df: DataFrame, s: TsAggSpec): DataFrame = TsAgg.aggregate(df, s, Seq(
    max(col(s.valueCol)).as("max_value"), min(col(s.valueCol)).as("min_value"),
    sum(col(s.valueCol)).as("sum_value"), count(lit(1)).as("count_value"),
    avg(col(s.valueCol)).as("avg_value")))

  test("summary merges on the driver: one job, no exchange, the frame's rows and schema") {
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("value_cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("value_int", expr("CAST(round(value * 100) AS INT)"))
    // every 5th hour holds only nulls
    val nulls = spark.range(0, 2000, 1, 4).select(
      (lit(t0) + col("id") * 60000L).as("ts"),
      when((col("id") / 60).cast("long") % 5 === 0, lit(null)).otherwise(col("id") * 3 - 1000).as("v"))
    Seq(
      ("long", events, spec.copy(valueCol = "value_cents")),
      ("int", events, spec.copy(valueCol = "value_int")),
      ("all-null buckets", nulls, TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 2000 * 60000L), valueCol = "v"))
    ).foreach { case (name, df, s) =>
      val ((local, plans), jobs) = jobsOf(collectPlans {
        val out = TsAggClient.summary(df, s)
        (out, out.collect())
      })
      assert(jobs == 1, s"$name: one job folds the five aggregates, got $jobs")
      assert(plans.nonEmpty && plans.forall(exchanges(_) == 0), s"$name: no exchange")
      val frame = summaryFrame(df, s)
      assert(local._1.schema == frame.schema, s"$name: ${local._1.schema} against ${frame.schema}")
      assert(local._2.toSeq == frame.collect().toSeq, s"$name rows")
    }
    val allNull = TsAggClient.summary(nulls, TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 2000 * 60000L),
      valueCol = "v")).collect().filter(_.isNullAt(1))
    assert(allNull.nonEmpty && allNull.forall(r => r.getLong(4) == 60L && r.isNullAt(5)),
      "all-null buckets keep their count beside null aggregates")
    // a Double value column keeps the frame: one shuffle, then the sort
    val dbl = spec.copy(valueCol = "value")
    val kept = TsAggClient.summary(events, dbl)
    assert(exchanges(kept.queryExecution.executedPlan) > 0, "a Double summary stays the frame")
    assert(kept.collect().toSeq == summaryFrame(events, dbl).collect().toSeq)
  }

  test("reads that differ only in range and interval share one compiled class on every source form") {
    val a = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 7 * day))
    val b = TsAggSpec(900, TimeMode.KeyEmbedded(t0 + 2 * day + 60000L, t0 + 5 * day))
    forms(a).zip(forms(b)).foreach { case (fa, fb) =>
      val (_, plansA) = collectPlans(fa.client())
      val ((mapsB, plansB), compiles) = GraftListenerSync.compilesOf(collectPlans(fb.client()))
      assert(plansA.size == aggNames.size && plansB.size == aggNames.size)
      val (srcA, srcB) = (plansA.map(sources), plansB.map(sources))
      // a graft-cells read folds in its region readers: its only generated
      // code is the unsafe-row projection Spark puts over every row scan, no
      // filter or bucket projection
      if (fb.name == "graft-cells") assert((plansA ++ plansB).forall(p => folded(p) &&
        collect(p) { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty),
        s"${fb.name}: the read folds in the region readers:\n${plansA.mkString("\n")}")
      else assert(srcA.forall(_.nonEmpty), s"${fb.name}: every read runs generated code")
      val differ = aggNames.zip(srcA.zip(srcB)).collect { case (agg, (sa, sb)) if sa != sb => agg }
      assert(compiles == 0 && differ.isEmpty, s"${fb.name}: the read over another range compiled " +
        s"$compiles classes; its generated source differs for ${differ.mkString("[", ",", "]")}")
      val expected = fb.sorted()
      assert(expected.forall(_._2.nonEmpty), s"${fb.name}: the range holds buckets")
      mapsB.zip(expected).foreach { case ((agg, g), (_, e)) =>
        assert(g.toSeq == e.toSeq, s"${fb.name} $agg")
      }
    }
  }

  test("a ParamLiteral range keeps plans apart, pushes down and explains like a Literal") {
    val a = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 2 * day))
    val b = TsAggSpec(3600, TimeMode.CellTs(t0 + day, t0 + 3 * day))
    def typed(s: TsAggSpec) = graft.sources.Tables.events(spark, sf, Some((s.mode.t0Ms, s.scanEndMs)))
    def frame(s: TsAggSpec) = TsAgg.count(typed(s), s)
    // equal values compare equal, different ranges never do
    assert(frame(a).queryExecution.optimizedPlan.sameResult(frame(a).queryExecution.optimizedPlan))
    assert(!frame(a).queryExecution.optimizedPlan.sameResult(frame(b).queryExecution.optimizedPlan))
    // both bounds still reach the Parquet scan
    val scan = typed(a).queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("GreaterThanOrEqual(ts") &&
      scan.contains("LessThan(ts"), scan)
    // explain prints the value as a Literal does
    val param = org.apache.spark.sql.GraftBridge.toExpression(graft.functions.expressions.ParamLiteral(t0))
    val literal = org.apache.spark.sql.catalyst.expressions.Literal(t0)
    assert(param.toString == literal.toString && param.sql == literal.sql)
    val plan = TsAgg.count(spark.range(10).select((lit(t0) + col("id")).as("ts")), a)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains(s"<= ${a.scanLastMs}") && plan.contains(s"${a.intervalMs})"), plan)
    // a shared read over one range is never served for another
    val shared = graft.operators.Materialize.share(typed(a))
    try {
      def cached(df: DataFrame) = df.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.isDefined
      assert(cached(typed(a)), "the same range reads the share")
      assert(!cached(typed(b)), "another range does not")
      assert(typed(b).count() == frame(b).agg(sum("count_value")).head().getLong(0))
      assert(shared.count() == frame(a).agg(sum("count_value")).head().getLong(0))
    } finally graft.operators.Materialize.clear()
  }

  test("an integer value column reads on the driver merge and equals the frames") {
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("value_int", expr("CAST(round(value * 100) AS INT)"))
    assert(events.schema("value_int").dataType == org.apache.spark.sql.types.IntegerType)
    assertMatches("int", events, spec.copy(valueCol = "value_int"), exchangesEach = 0)
  }

  test("null values: count includes them, every aggregate omits all-null buckets") {
    // 2,000 cells a minute apart over 4 partitions; every 5th hour holds
    // only nulls, and every 7th cell elsewhere is null
    val hour = 3600000L
    val cells = spark.range(0, 2000, 1, 4).select(
      (lit(t0) + col("id") * 60000L).as("ts"),
      when((col("id") / 60).cast("long") % 5 === 0 || col("id") % 7 === 0, lit(null))
        .otherwise(col("id") * 3 - 1000).as("v"))
    val s = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + 2000 * 60000L), valueCol = "v")
    assertMatches("nulls", cells, s, exchangesEach = 0)
    val allNull = (0L until 34L).filter(_ % 5 == 0).map(h => t0 + h * hour).toSet
    val count = TsAggClient.count(cells, s)
    assert(allNull.subsetOf(count.keySet), "count keeps all-null buckets")
    assert(count.values.sum == 2000L, "count counts every in-range cell, null or not")
    Seq(TsAggClient.max(cells, s), TsAggClient.min(cells, s), TsAggClient.sum(cells, s),
      TsAggClient.avg(cells, s)).foreach { m =>
      assert(m.nonEmpty && m.keySet.intersect(allNull).isEmpty, "all-null buckets are omitted")
    }
  }

  test("a Long sum whose merge overflows raises under ANSI and wraps with ANSI off") {
    // two partitions, each summing to 2^62 in one bucket: the partials fit,
    // their merge does not
    val cells = spark.range(0, 4, 1, 2).select(
      (lit(t0) + col("id")).as("ts"),
      when(col("id") % 2 === 0, lit(1L << 62)).otherwise(lit(0L)).as("v"))
    val s = TsAggSpec(3600, TimeMode.CellTs(t0, t0 + day), valueCol = "v")
    def causes(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    withConf("spark.sql.ansi.enabled", "true") {
      val client = intercept[Exception](TsAggClient.sum(cells, s))
      assert(causes(client).exists(_.isInstanceOf[ArithmeticException]), client.toString)
      val frame = intercept[Exception](TsAgg.sum(cells, s).collect())
      assert(causes(frame).exists(_.isInstanceOf[ArithmeticException]), frame.toString)
    }
    withConf("spark.sql.ansi.enabled", "false") {
      val (got, plans) = collectPlans(TsAggClient.sum(cells, s))
      assert(plans.map(exchanges) == Seq(0), "the driver merge ran")
      assert(got.toSeq == Seq(t0 -> Long.MinValue), "2^62 + 2^62 wraps as Spark's sum wraps")
      assert(got.toSeq == rows(TsAgg.sum(cells, s)).toSeq)
    }
  }

  test("past the partial bound a read takes the shuffle path and still equals the frames") {
    // 1 s buckets over 60 days: 5,184,000 buckets, over the 2^22 bound even
    // on one partition
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("value_cents", expr("CAST(round(value * 100) AS BIGINT)"))
    val s = TsAggSpec(1, TimeMode.CellTs(t0, t0 + 60 * day), valueCol = "value_cents")
    assertMatches("over-bound", events, s, exchangesEach = 1)
  }
}
