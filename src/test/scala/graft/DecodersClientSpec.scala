package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Decoders
import graft.operators.{TimeMode, TsAggClient, TsAggSpec}

class DecodersClientSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def be(width: Int, v: Long): Array[Byte] =
    Array.tabulate(width)(i => ((v >> (8 * (width - 1 - i))) & 0xff).toByte)

  test("CellScan client call shape: table + scan(mask, keyRange, interpreter) + spec") {
    // the reference's primary access pattern — client.sum(table, ci, scan)
    // with setStartRow/setStopRow — against the binary-cell fixture
    val sf = "/root/testdata/sf0.001"
    val t0 = 1704067200000L
    val day = 86400000L
    val (lo, hi) = (t0 + day, t0 + 7 * day)
    val scan = TsAggClient.CellScan(
      mask = "000000001111",
      keyRange = Some((be(8, 7L) ++ be(4, lo / 1000), be(8, 7L) ++ be(4, hi / 1000))))
    val spec = TsAggSpec(900, TimeMode.CellTs(lo, hi))
    val got = TsAggClient.sum(graft.sources.Fixtures.keyedEvents(spark, sf), scan, spec)

    // ground truth straight from the relational events table
    val expected = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") === 7L)
      .withColumn("ts_ms", expr("unix_millis(ts) DIV 1000 * 1000"))
      .filter(col("ts_ms") >= lo && col("ts_ms") < hi)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("bucket_start", expr(s"$lo + ((ts_ms - $lo) - (ts_ms - $lo) % 900000)"))
      .groupBy("bucket_start").agg(sum("cents").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.toMap == expected)
  }

  test("longBE decodes the reference's LongColumnInterpreter encoding incl. negatives") {
    val vals = Seq(0L, 1L, 99L, Long.MaxValue, -1L, -99L, Long.MinValue, 1234567890123L)
    val df = vals.map(v => Tuple1(be(8, v))).toDF("raw")
    val got = df.select(Decoders.longBE(col("raw"))).collect().map(_.getLong(0)).toSeq
    assert(got == vals)
  }

  test("fixedPoint(scale) decodes BE fixed-point integers to exact decimals") {
    // 12345 at scale 2 → 123.45; negatives and zero-scale exact too
    val df = Seq(Tuple1(be(8, 12345L)), Tuple1(be(8, -7L)), Tuple1(be(8, 0L))).toDF("raw")
    val got2 = df.select(Decoders.fixedPoint(2)(col("raw")).as("v")).collect()
      .map(_.getDecimal(0).toPlainString).toSeq
    assert(got2 == Seq("123.45", "-0.07", "0.00"))
    val got0 = df.select(Decoders.fixedPoint(0)(col("raw")).as("v")).collect()
      .map(_.getDecimal(0).toPlainString).toSeq
    assert(got0 == Seq("12345", "-7", "0"))
    // scale 4 splits the same stored integer differently — the parameter is live
    val got4 = df.select(Decoders.fixedPoint(4)(col("raw")).as("v")).collect()
      .map(_.getDecimal(0).toPlainString).toSeq
    assert(got4 == Seq("1.2345", "-0.0007", "0.0000"))
    intercept[IllegalArgumentException](Decoders.fixedPoint(-1))
    // the decode is TOTAL over 8-byte two's complement: both long extremes
    // survive the intermediate decimal(19,0) under ANSI mode
    val extremes = Seq(Tuple1(be(8, Long.MaxValue)), Tuple1(be(8, Long.MinValue))).toDF("raw")
    val gotX = extremes.select(Decoders.fixedPoint(2)(col("raw")).as("v")).collect()
      .map(_.getDecimal(0).toPlainString).toSeq
    assert(gotX == Seq("92233720368547758.07", "-92233720368547758.08"))
  }

  test("intBE decodes 4-byte values incl. negatives") {
    val vals = Seq(0, 1, Int.MaxValue, -1, Int.MinValue, 1415577600)
    val df = vals.map(v => Tuple1(be(4, v.toLong & 0xffffffffL))).toDF("raw")
    val got = df.select(Decoders.intBE(col("raw"))).collect().map(_.getLong(0)).toSeq
    assert(got == vals.map(_.toLong))
  }

  test("wrong-width binary raises instead of mis-decoding") {
    val df = Seq(Tuple1(be(3, 7L))).toDF("raw")
    val ex = intercept[Exception](df.select(Decoders.longBE(col("raw"))).collect())
    assert(ex.getMessage.contains("expected 8 bytes"))
  }

  test("doubleBE round-trips IEEE-754 bit patterns as DoubleType") {
    val vals = Seq(0.0, 1.5, -2.25, math.Pi, Double.MinPositiveValue, Double.MaxValue, -0.0)
    val df = vals.map(v => Tuple1(be(8, java.lang.Double.doubleToLongBits(v)))).toDF("raw")
    val decoded = df.select(Decoders.doubleBE(col("raw")).as("d"))
    assert(decoded.schema("d").dataType == org.apache.spark.sql.types.DoubleType)
    assert(decoded.collect().map(_.getDouble(0)).toSeq == vals)
  }

  test("int32BE encodes negative epoch-seconds without high-word truncation") {
    import graft.functions.RowKeys
    val secs = Seq(-2L, -1L, 0L, 1L, Int.MaxValue.toLong, Int.MinValue.toLong)
    val df = secs.map(Tuple1(_)).toDF("sec")
    val got = df.select(Decoders.intBE(RowKeys.int32BE(col("sec")))).collect().map(_.getLong(0)).toSeq
    assert(got == secs)
  }

  test("TsAggClient omits all-null buckets instead of fabricating zeros") {
    import graft.operators.TsAgg
    val t0 = RefFixture.BaseMs
    val df = Seq((t0 + 1L, Some(5L)), (t0 + 900001L, None)).toDF("ts", "value")
    val spec = TsAggSpec(900, TimeMode.CellTs(t0, t0 + 1800000L))
    assert(TsAgg.sum(df, spec).count() == 2) // engine-level: null row present
    assert(TsAggClient.sum(df, spec) == scala.collection.SortedMap(t0 -> 5L)) // client: omitted
  }

  test("utf8Double decodes decimal-string payloads") {
    val df = Seq(Tuple1("12.5".getBytes("UTF-8"))).toDF("raw")
    assert(df.select(Decoders.utf8Double(col("raw"))).collect().head.getDouble(0) == 12.5)
  }

  test("X3 end-to-end: binary cell values decode through longBE into TsAgg (LongColumnInterpreter flow)") {
    import graft.operators.TsAgg
    // re-encode the golden fixture's values as 8-byte BE binaries — the exact
    // wire form LongColumnInterpreter reads — then decode inside the plan
    val fixture = RefFixture.df(spark)
    val encoded = fixture
      .withColumn("raw", expr("unhex(lpad(hex(value), 16, '0'))"))
      .drop("value")
      .withColumn("value", Decoders.longBE(col("raw")))
    val spec = TsAggSpec(900, TimeMode.CellTs(RefFixture.BaseMs, RefFixture.BaseMs + 3600000L))
    val viaBinary = TsAggClient.max(encoded, spec)
    val direct = TsAggClient.max(fixture, spec)
    assert(viaBinary == direct && direct.values.toSeq == Seq(24L, 49L, 74L, 99L))
  }

  test("TsAggClient mirrors the reference client: sorted maps, count exposed, one-pass summary") {
    val fixture = RefFixture.df(spark)
    val spec = TsAggSpec(900, TimeMode.CellTs(RefFixture.BaseMs, RefFixture.BaseMs + 3600000L))
    val mx = TsAggClient.max(fixture, spec)
    assert(mx.keys.toSeq == mx.keys.toSeq.sorted) // SortedMap like ConcurrentSkipListMap
    assert(mx.values.toSeq == Seq(24L, 49L, 74L, 99L))
    assert(TsAggClient.count(fixture, spec).values.forall(_ == 25L))
    assert(TsAggClient.avg(fixture, spec).values.toSeq == Seq(12.0, 37.0, 62.0, 87.0))
    val summary = TsAggClient.summary(fixture, spec).collect()
    // over a one-stage copy of the (repartitioned) fixture, one job folds all
    // five aggregates and the driver merges them: a local frame with the
    // rows and schema of the TsAgg frame
    val oneStage = spark.createDataFrame(fixture.collect().toSeq.asJava, fixture.schema)
    val (local, jobs) = org.apache.spark.GraftListenerSync.jobsOf(spark.sparkContext) {
      val out = TsAggClient.summary(oneStage, spec)
      (out, out.collect())
    }
    assert(jobs == 1, s"summary ran $jobs jobs")
    val frame = graft.operators.TsAgg.aggregate(oneStage, spec, Seq(max("value").as("max_value"),
      min("value").as("min_value"), sum("value").as("sum_value"), count(lit(1)).as("count_value"),
      avg("value").as("avg_value")))
    assert(local._1.schema == frame.schema && local._2.toSeq == frame.collect().toSeq)
    assert(local._2.toSeq == summary.toSeq)
    assert(summary.length == 4)
    val r = summary.head
    assert(r.getLong(r.fieldIndex("max_value")) == 24L &&
      r.getLong(r.fieldIndex("min_value")) == 0L &&
      r.getLong(r.fieldIndex("sum_value")) == 300L &&
      r.getLong(r.fieldIndex("count_value")) == 25L &&
      r.getDouble(r.fieldIndex("avg_value")) == 12.0)
  }
}
