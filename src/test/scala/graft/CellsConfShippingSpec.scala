package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cells.{CellRegions, GraftCellsScanBuilder}

/** Local filesystem under the `confprobe` scheme that records, for every
  * instance created inside a Spark task, the value the task's Hadoop conf
  * holds for [[ConfProbeFs.Marker]]. */
class ConfProbeFs extends RawLocalFileSystem {
  override def getScheme: String = "confprobe"
  override def getUri: URI = URI.create("confprobe:///")
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    if (TaskContext.get() != null)
      ConfProbeFs.seen.add(Option(conf.get(ConfProbeFs.Marker)).getOrElse("<absent>"))
  }
}

object ConfProbeFs {
  val Marker = "spark.hadoop.graft.test.shipped"
  val seen = new ConcurrentLinkedQueue[String]()
}

/**
 * The graft-cells source ships the driver session's Hadoop conf to its
 * executor-side readers and region writers by broadcast, once per scan or
 * write: the task binary holds the broadcast handle, not the conf's entries,
 * and the conf a task sees is still the session's, session-only keys
 * included.
 */
class CellsConfShippingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("the serialized reader factory holds a broadcast handle, not the conf") {
    val scan = new GraftCellsScanBuilder(CellRegions.path(spark, sf)).build()
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(scan.toBatch.createReaderFactory())
    out.close()
    // the full Hadoop conf alone serializes to tens of kilobytes; the
    // factory's own fields (read schema, pushed aggregate, handle) to a few
    info(s"serialized GraftCellsReaderFactory: ${bytes.size} bytes")
    assert(bytes.size < 4096, s"factory is ${bytes.size} bytes: the conf rides in the task")
  }

  test("a session-only conf key reaches cells read tasks and region writer tasks") {
    val keys = Map(
      "fs.confprobe.impl" -> classOf[ConfProbeFs].getName,
      "fs.confprobe.impl.disable.cache" -> "true",
      ConfProbeFs.Marker -> "session-7")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = s"confprobe://${java.nio.file.Files.createTempDirectory("graft-confprobe")}/cells"
    try {
      val n = 40L
      val cells = spark.range(n).select(
        expr("unhex(lpad(hex(id), 24, '0'))").as("key"),
        expr("unhex('00000000')").as("qual"),
        expr("unhex(lpad(hex(id), 16, '0'))").as("value"),
        col("id").as("value_long"),
        col("id").cast("double").as("value_double"),
        lit("t").as("event_type"))
      ConfProbeFs.seen.clear()
      CellRegions.writeRegionDir(cells, dir, numRegions = 2)
      val written = ConfProbeFs.seen.asScala.toSeq
      assert(written.nonEmpty && written.forall(_ == "session-7"),
        s"writer tasks saw: $written")

      ConfProbeFs.seen.clear()
      val back = spark.read.format("graft-cells").load(dir)
        .select("value_long").collect().map(_.getLong(0)).sorted.toSeq
      assert(back == (0L until n))
      val read = ConfProbeFs.seen.asScala.toSeq
      assert(read.nonEmpty && read.forall(_ == "session-7"), s"reader tasks saw: $read")
    } finally keys.keys.foreach(spark.conf.unset)
  }
}
