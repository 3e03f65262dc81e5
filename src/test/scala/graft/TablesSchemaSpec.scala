package graft


import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerSync
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/**
 * `Tables` infers a Parquet schema once and reuses it: a warm build runs no
 * Spark job, and a rewritten file or a changed Parquet conf infers again.
 * A time range given in millis reaches the raw column exactly, whatever its
 * bounds.
 */
class TablesSchemaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def jobsOf[T](f: => T): (T, Int) = GraftListenerSync.jobsOf(spark.sparkContext)(f)

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("tables-schema").toString

  test("warm builds of events, documents and lineitemShipRange run no job") {
    val t0 = 725846400000L // 1993-01-01
    val builds = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "events" -> (() => Tables.events(spark, sf)),
      "events bounded" -> (() => Tables.events(spark, sf, Some((1704067200000L, 1704672000000L)))),
      "documents" -> (() => Tables.documents(spark, sf)),
      "lineitemShipRange" -> (() => Tables.lineitemShipRange(spark, sf, t0, t0 + 86400000L * 365)))
    builds.foreach { case (name, build) =>
      val cold = build().schema
      val (warm, jobs) = jobsOf(build().schema)
      assert(jobs == 0, s"$name: a warm build runs no job")
      assert(warm == cold, s"$name: the reused schema is the inferred one")
    }
    // the ship-date range still reaches the scan on the raw column
    val plan = Tables.lineitemShipRange(spark, sf, t0, t0 + 86400000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(Tables.lineitemShipRange(spark, sf, t0, t0 + 86400000L * 365).count() ==
      Tables.lineitem(spark, sf).filter(
        $"l_shipdate" >= org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.lit(t0)) &&
        $"l_shipdate" < org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.lit(t0 + 86400000L * 365))).count())
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tmpDir()
    val path = s"$dir/documents.parquet"
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(path)
    assert(Tables.documents(spark, dir).schema.fieldNames.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
    val again = Tables.documents(spark, dir)
    assert(again.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(again.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "x")))
  }

  test("a changed spark.sql.parquet conf infers the schema again") {
    // a plain Parquet writer: a file Spark writes carries its own schema in
    // the footer, which inference prefers over binaryAsString
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 id; required binary raw; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/documents.parquet/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("raw", "hi"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.documents(spark, dir).schema("raw").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.documents(spark, dir)
      assert(asString.schema("raw").dataType == StringType)
      assert(asString.schema("id").dataType == LongType)
      assert(asString.collect().map(_.getString(1)).toSeq == Seq("hi"))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("events bounds past the Long range saturate instead of wrapping") {
    // Long nanos (the nanosAsLong form) and NTZ micros (the sf0.001 fixture)
    val nanos = tmpDir()
    spark.range(0, 1000, 1, 2).select(
      (lit(1704067200000L) * 1000000L + col("id") * 3600000000000L).as("ts"),
      col("id").cast("double").as("value"))
      .write.parquet(s"$nanos/events.parquet")
    Seq(nanos, sf).foreach { dir =>
      val all = Tables.events(spark, dir).count()
      assert(all > 0)
      Seq((0L, Long.MaxValue), (0L, Long.MaxValue / 2), (Long.MinValue, Long.MaxValue)).foreach { b =>
        assert(Tables.events(spark, dir, Some(b)).count() == all, s"$dir $b")
      }
      Seq((Long.MaxValue / 2, Long.MaxValue), (Long.MinValue, 0L), (5L, 5L)).foreach { b =>
        assert(Tables.events(spark, dir, Some(b)).count() == 0, s"$dir $b")
      }
    }
  }
}
