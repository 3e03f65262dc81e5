package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.SortedMap
import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.{Decoders, RowKeys}
import graft.functions.expressions.{BytesBEToLong, LongToBytesBE}
import graft.operators.{Dedup, TimeMode, TsAggClient, TsAggSpec}
import graft.sources.Tables
import graft.sources.cells.CellRegions

/** One line of the op stream the harness generated from the seed. */
sealed trait Op { def id: Int; def round: Int; def kind: String }
/** A `TsAggClient` call: source form, aggregate kind, time mode and range. */
final case class TsOp(id: Int, round: Int, form: String, agg: String, keyMode: Boolean,
    t0: Long, t1: Long, intervalSec: Long) extends Op { def kind = "read" }
/** A batch of binary cells pushed through `CellRegions.writeRegionDir`. */
final case class IngestOp(id: Int, round: Int, batch: String) extends Op { def kind = "ingest" }
/** A registry query, `SparkEntry.queries(name)`, written in full to `noop`. */
final case class QueryOp(id: Int, round: Int, name: String) extends Op { def kind = "query" }

/**
 * Closed-loop benchmark process: one client thread, Spark `local[cores]`.
 *
 * Arguments are `key=value` pairs: `mode` (`prep` or `run`), `workload`,
 * `data` (prepared inputs), `work` (scratch space), `cores`, `out` (result
 * file) and, for `run`, `prime` and `ops` (op-stream files) and `trace`
 * (0|1). `prep` builds the library's fixtures from the inputs. `run` starts
 * a session, opens the prebuilt inputs and makes one fixed warm-up call,
 * reporting the time from JVM start until then as the set-up time; it then
 * runs the fixed, seed-independent `prime` stream untimed, so that the
 * window measures warm calls, runs the `ops` stream as the measured window,
 * takes the heap still in use once collections stop freeing memory, and
 * writes one JSON result with every operation's timing and result digest,
 * the window's bounds and the machine's `/proc/stat` counters at both ends
 * of it. With `trace=1` each window call also runs traced, adding the
 * per-operation layer figures and the span tree.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val ops = a.get("ops").map(readOps).getOrElse(Nil)
    val wl: Workload =
      if (a("workload").startsWith("tsagg")) new TsWorkload(a("data"), work)
      else new RegistryWorkload(a("data"))
    val out = new PrintWriter(new File(a("out")), "UTF-8")
    try a("mode") match {
      case "prep" =>
        val t = Clock.now()
        val spark = session(cores, work)
        wl.prep(spark)
        out.println(s"""{"prep_s": ${(Clock.now() - t) / 1e3}}""")
        stop(spark)
      case "run" =>
        val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
        val spark = session(cores, work)
        wl.open(spark)
        wl.warmUp(spark)
        val setupS = (Clock.now() - jvmStart) / 1e3
        val prime = runRounds(spark, wl, a.get("prime").map(readOps).getOrElse(Nil), None)
        val rec = if (a("trace") == "1") Some(new Recorder) else None
        val window = runRounds(spark, wl, ops, rec)
        val liveMb = liveHeapMb()
        out.print(s"""{"setup_s": $setupS, "cores": $cores, "heap_live_mb": $liveMb, """ +
          s""""prime": ${prime.json}, "window": ${window.json},""")
        rec.foreach { r =>
          val attributed = window.traced.map(t => t -> Attribution.attribute(r, t))
          out.print(""" "layers": [""")
          out.print(attributed.map { case (t, (m, _)) =>
            s"""{"id": ${t.id}, "kind": "${t.kind}", """ +
              m.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ") + "}"
          }.mkString(", "))
          out.print("""], "spans": [""")
          out.print(attributed.flatMap(_._2._2).map { s =>
            s"""{"op": ${s.op}, "name": "${s.name}", "parent": "${s.parent}", """ +
              s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, """ +
              s""""self_ms": ${Json.num(s.self)}}"""
          }.mkString(", "))
          out.print("],")
        }
        out.println(""" "end": true}""")
        stop(spark)
    } finally out.close()
  }

  /**
   * Heap still in use once the window's garbage is gone, outside every
   * timing. A full collection makes the handles of the window's broadcasts
   * and shuffles unreachable; Spark's `ContextCleaner` then drops the blocks
   * and map statuses they held, on its own thread, and only a later
   * collection frees those. So collections, each after a pause for the
   * cleaner, repeat until one frees less than 1 MB (at most five). With a
   * single collection the reading depended on whether routine collections
   * during the window had already let the cleaner run: 80 or 137 MB in
   * curation runs of one build.
   */
  private def liveHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); heap.getHeapMemoryUsage.getUsed }
    var used = collect()
    var freed = Long.MaxValue
    var n = 1
    while (n < 5 && freed >= 1048576L) {
      Thread.sleep(500)
      val next = collect()
      freed = used - next
      used = next
      n += 1
    }
    used / 1048576.0
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    Dedup.clearCaches()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def readOps(path: String): Seq[Op] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val f = line.split('\t')
      f(2) match {
        case "read" => TsOp(f(0).toInt, f(1).toInt, f(3), f(4), f(5) == "key",
          f(6).toLong, f(7).toLong, f(8).toLong)
        case "ingest" => IngestOp(f(0).toInt, f(1).toInt, f(3))
        case "query" => QueryOp(f(0).toInt, f(1).toInt, f(3))
      }
    }.toVector finally src.close()
  }

  /** A window's outcome. `results` are the untraced calls; with tracing,
    * `tracedResults`/`traced` are each call's traced twin. `stat0`/`stat1`
    * are the machine's CPU counters when the window started and ended. */
  final case class Window(rounds: Int, start: Double, end: Double, stat0: String, stat1: String,
      results: Seq[String], tracedResults: Seq[String], traced: Seq[OpTiming]) {
    def json: String =
      s"""{"rounds": $rounds, "start_ms": ${Json.num(start)}, "end_ms": ${Json.num(end)}, """ +
        s""""stat0": $stat0, "stat1": $stat1, "ops": [${results.mkString(", ")}], """ +
        s""""traced_ops": [${tracedResults.mkString(", ")}]}"""
  }

  /** The aggregate `cpu` line of `/proc/stat` as a JSON array of clock
    * ticks; `null` where the file does not exist. */
  private def procStat(): String = try {
    val src = Source.fromFile("/proc/stat", "UTF-8")
    try src.getLines().find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).mkString("[", ", ", "]")).getOrElse("null")
    finally src.close()
  } catch { case _: java.io.IOException => "null" }

  /**
   * Runs whole rounds, one call at a time; each round starts, outside any
   * timing, with the workload's `startRound`. With a recorder, every call is
   * made twice — untraced and traced, in alternating order — so the traced
   * twin gives the layers and the pair gives the tracing overhead.
   */
  private def runRounds(spark: SparkSession, wl: Workload, ops: Seq[Op],
      rec: Option[Recorder]): Window = {
    val byRound = ops.groupBy(_.round).toSeq.sortBy(_._1).map(_._2)
    val results = ArrayBuffer.empty[String]
    val tracedResults = ArrayBuffer.empty[String]
    val traced = ArrayBuffer.empty[OpTiming]
    val stat0 = procStat()
    val start = Clock.now()
    byRound.foreach { round =>
      wl.startRound()
      round.foreach { op =>
        val pair =
          if (rec.isEmpty) Seq(None) else if (op.id % 2 == 0) Seq(None, rec) else Seq(rec, None)
        pair.foreach { rr =>
          val (json, timing) = runOp(spark, wl, op, rr)
          if (rr.isEmpty) results += json
          else { tracedResults += json; traced += timing }
        }
      }
    }
    val end = Clock.now()
    Window(byRound.size, start, end, stat0, procStat(), results.toSeq, tracedResults.toSeq,
      traced.toSeq)
  }

  private val processCpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /**
   * One timed call, with the JVM process CPU it used (all threads). Before
   * it, and outside its timing, the scoped and session caches are dropped
   * and the workload clears what the call will write; no collection is
   * forced, so garbage earlier calls left is collected inside later calls,
   * as for any caller. After it, storage the call left behind is measured
   * (traced) and released, so no call rides another's warm cache. A
   * recorder, when given, listens only for the duration of this call.
   */
  private def runOp(spark: SparkSession, wl: Workload, op: Op,
      rec: Option[Recorder]): (String, OpTiming) = {
    val sc = spark.sparkContext
    wl.beforeOp(op)
    Dedup.clearCaches()
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val storage0 = if (rec.isDefined) Storage.bytes(spark) else 0L
    rec.foreach { r => sc.addSparkListener(r); spark.listenerManager.register(r) }
    val call = new Call(rec.isDefined)
    val cpu0 = processCpu.getProcessCpuTime
    val t0 = Clock.now()
    val outcome = try Right(wl.run(spark, op, call)) catch { case e: Throwable => Left(e) }
    val t1 = Clock.now()
    val cpu = processCpu.getProcessCpuTime - cpu0
    rec.foreach { r =>
      org.apache.spark.graftbench.BusDrain.drain(sc)
      sc.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
    val cached = if (rec.isDefined) call.afterBuild.map(_ - storage0).getOrElse(0L) else 0L
    Dedup.clearCaches()
    val leaked = if (rec.isDefined) Storage.bytes(spark) - storage0 else 0L
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
    val checked = outcome.flatMap(d => try Right(wl.check(spark, op, d)) catch {
      case e: Throwable => Left(e)
    })
    val common = s"""{"id": ${op.id}, "kind": "${op.kind}", "start_ms": ${Json.num(t0)}, """ +
      s""""end_ms": ${Json.num(t1)}, "cpu_s": ${cpu / 1e9}, """
    val json = checked match {
      case Right(digest) => common + s""""digest": "${digest.text}", "extra": ${digest.extra}}"""
      case Left(e) => common + s""""error": ${Json.str(e.toString.take(300))}}"""
    }
    (json, OpTiming(op.id, op.kind, t0, t1, call.buildEnd, cached, leaked))
  }
}

/** Epoch milliseconds with sub-millisecond precision, on the same clock the
  * listener bus stamps its events with. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Bytes held by persisted RDDs (memory + disk), cached frames and local
  * checkpoints alike. */
object Storage {
  def bytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
}

/** Per-call scratch: when the registry function returned, and the storage
  * held at that moment (traced runs only). */
final class Call(traced: Boolean) {
  var buildEnd: Option[Double] = None
  var afterBuild: Option[Long] = None
  def built(spark: SparkSession): Unit = {
    buildEnd = Some(Clock.now())
    if (traced) afterBuild = Some(Storage.bytes(spark))
  }
}

/** A result as the harness compares it: `text` against the expected digest,
  * `extra` a JSON object of facts the metrics need (e.g. bytes written). */
final case class Digest(text: String, extra: String = "{}")

trait Workload {
  /** Builds the library's fixtures for these inputs if absent. */
  def prep(spark: SparkSession): Unit = ()
  /** Opens the prebuilt inputs in a fresh session. */
  def open(spark: SparkSession): Unit
  /** Fixed, seed-independent warm-up call that ends the set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Untimed, at the start of every round. */
  def startRound(): Unit = ()
  /** Untimed, before each call. */
  def beforeOp(op: Op): Unit = ()
  /** The timed call: returns once the caller holds the full result. */
  def run(spark: SparkSession, op: Op, call: Call): Any
  /** Untimed: turns the held result into a digest. */
  def check(spark: SparkSession, op: Op, result: Any): Digest
}

object Digests {
  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  def longs(m: SortedMap[Long, Long]): String =
    md5(m.iterator.map { case (k, v) => s"$k $v\n" }.mkString)
  def doubles(m: SortedMap[Long, Double]): String =
    md5(m.iterator.map { case (k, v) => s"$k ${java.lang.Double.doubleToLongBits(v)}\n" }.mkString)
  def summary(rows: Array[Row]): String = md5(rows.iterator.map { r =>
    val avg = java.lang.Double.doubleToLongBits(r.getAs[Double]("avg_value"))
    s"${r.getAs[Long]("bucket_start")} ${r.getAs[Long]("max_value")} " +
      s"${r.getAs[Long]("min_value")} ${r.getAs[Long]("sum_value")} " +
      s"${r.getAs[Long]("count_value")} $avg\n"
  }.mkString)
}

/**
 * `tsagg_client`: `TsAggClient` calls over one generated `events` table in
 * three source forms — typed (`Tables.events`), key-embedded binary cells
 * (Parquet, the `Fixtures.keyedEvents` layout) and the same cells in
 * `graft-cells` region files — plus one ingest a round through
 * `CellRegions.writeRegionDir`. The round's `graft-cells` reads after its
 * ingest see the ingested regions beside the base ones.
 */
final class TsWorkload(data: String, work: String) extends Workload {
  private val Mask = "000000001111" // timestamp bytes 8..11 of the 12-byte key
  private val keyedPath = s"$data/keyed"
  private val regionPath = s"$data/regions"
  private val ingestPath = s"$work/ingest/round"
  private val cents = expr("CAST(round(value * 100) AS BIGINT)")
  /** Whether this round's ingest has landed, so `graft-cells` reads see it. */
  private var ingested = false

  private def exists(p: String) = new File(p).exists()

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  override def startRound(): Unit = ingested = false

  /** A fresh directory for each ingest, its traced twin's included. */
  override def beforeOp(op: Op): Unit = op match {
    case _: IngestOp => rmTree(new File(ingestPath))
    case _ =>
  }

  /** The key-embedded cell layout of `Fixtures.keyedEvents` — 12-byte key
    * (8-byte series ++ 4-byte hour), 4-byte offset qualifier, 8-byte BE cents —
    * key-range-partitioned and sorted, written under the inputs' own directory
    * (the library's fixture cache lives outside it); then the same cells as a
    * `graft-cells` region directory through the library's writer. */
  override def prep(spark: SparkSession): Unit = {
    if (!exists(s"$keyedPath/_SUCCESS")) {
      val sec = expr("unix_millis(ts) DIV 1000")
      val hourSec = expr("(unix_millis(ts) DIV 1000) DIV 3600 * 3600")
      Tables.events(spark, data).select(
        concat(RowKeys.int64BE(col("user_id")), RowKeys.int32BE(hourSec)).as("key"),
        RowKeys.int32BE(sec - hourSec).as("qual"),
        LongToBytesBE(cents, 8).as("value"),
        col("value").as("value_double"),
        col("event_type"))
        .repartitionByRange(8, col("key")).sortWithinPartitions("key", "qual")
        .write.mode("overwrite").parquet(keyedPath)
    }
    if (!exists(s"$regionPath/_SUCCESS")) {
      CellRegions.writeRegionDir(spark.read.parquet(keyedPath).select(
        col("key"), col("qual"), col("value"), BytesBEToLong(col("value"), 8).as("value_long"),
        col("value_double"), col("event_type")), regionPath)
    }
  }

  def open(spark: SparkSession): Unit =
    Seq("typed", "keyed", "cells").foreach(source(spark, _, 0L, Long.MaxValue / 2).schema)

  def warmUp(spark: SparkSession): Unit = {
    val t0 = 1704153600000L // 2024-01-02T00:00:00Z
    run(spark, TsOp(-1, -1, "keyed", "sum", keyMode = false, t0, t0 + 86400000L, 3600),
      new Call(false))
  }

  private def source(spark: SparkSession, form: String, t0: Long, end: Long): DataFrame =
    form match {
      case "typed" => Tables.events(spark, data, Some((t0, end))).withColumn("value_cents", cents)
      case "keyed" => spark.read.parquet(keyedPath)
      case "cells" =>
        val base = spark.read.format("graft-cells").load(regionPath)
        if (ingested) base.union(spark.read.format("graft-cells").load(ingestPath)) else base
    }

  def run(spark: SparkSession, op: Op, call: Call): Any = op match {
    case o: TsOp =>
      val mode = if (o.keyMode) TimeMode.KeyEmbedded(o.t0, o.t1) else TimeMode.CellTs(o.t0, o.t1)
      val spec = TsAggSpec(o.intervalSec, mode)
      if (o.form == "typed") {
        val s = spec.copy(valueCol = "value_cents")
        val df = source(spark, "typed", o.t0, s.scanEndMs)
        o.agg match {
          case "max" => TsAggClient.max(df, s)
          case "min" => TsAggClient.min(df, s)
          case "sum" => TsAggClient.sum(df, s)
          case "count" => TsAggClient.count(df, s)
          case "avg" => TsAggClient.avg(df, s)
          case "summary" => TsAggClient.summary(df, s).collect()
        }
      } else {
        val df = source(spark, o.form, o.t0, spec.scanEndMs)
        val scan = TsAggClient.CellScan(Mask)
        o.agg match {
          case "max" => TsAggClient.max(df, scan, spec)
          case "min" => TsAggClient.min(df, scan, spec)
          case "sum" => TsAggClient.sum(df, scan, spec)
          case "count" => TsAggClient.count(df, scan, spec)
          case "avg" => TsAggClient.avg(df, scan, spec)
          case "summary" =>
            // the map-returning client has no CellScan overload for summary:
            // decode the cells with the same public key/value interpreters
            val cells = df
              .withColumn("ts_ms", RowKeys.keyMillis(col("key"), Mask, Decoders.intBE(col("qual"))))
              .withColumn("value_cents", Decoders.longBE(col("value")))
            TsAggClient.summary(cells, spec.copy(tsCol = "ts_ms", valueCol = "value_cents")).collect()
        }
      }
    case o: IngestOp =>
      CellRegions.writeRegionDir(spark.read.parquet(o.batch), ingestPath)
      ingested = true
      ingestPath
  }

  def check(spark: SparkSession, op: Op, result: Any): Digest = (op, result) match {
    case (o: TsOp, rows: Array[Row]) if o.agg == "summary" => Digest(Digests.summary(rows))
    case (o: TsOp, m: SortedMap[_, _]) if o.agg == "avg" =>
      Digest(Digests.doubles(m.asInstanceOf[SortedMap[Long, Double]]))
    case (_: TsOp, m: SortedMap[_, _]) => Digest(Digests.longs(m.asInstanceOf[SortedMap[Long, Long]]))
    case (_: IngestOp, out: String) =>
      // read back through the V2 source: every cell landed, values intact
      // (the regions stay for the rest of the round's reads)
      val r = spark.read.format("graft-cells").load(out)
        .agg(count(lit(1)), sum(col("value_long"))).head()
      val dir = new File(out)
      val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      val bytes = files.filterNot(_.getName.startsWith("_")).map(_.length).sum
      Digest(s"${r.getLong(0)}:${r.getLong(1)}", s"""{"cells": ${r.getLong(0)}, "bytes": $bytes}""")
  }
}

/**
 * `curation`: registry queries, `SparkEntry.queries(name)`
 * over a generated `documents` table, each written in full to Spark's `noop`
 * sink. The result digest — row count plus an order-independent sum of
 * per-row hashes — is observed on the same action, so checking adds no
 * second execution.
 */
final class RegistryWorkload(data: String) extends Workload {
  private var queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty

  def open(spark: SparkSession): Unit = {
    queries = SparkEntry.queries
    Tables.documents(spark, data).schema
  }

  def warmUp(spark: SparkSession): Unit = materialize(spark, "curate_url_normalize", data, -1)

  /** Doubles rounded to 6 places before hashing, so a last-bit difference
    * in an aggregation order cannot flip the digest. */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => normalized(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  def run(spark: SparkSession, op: Op, call: Call): Any = op match {
    case o: QueryOp => materialize(spark, o.name, data, o.id, call)
  }

  private def materialize(spark: SparkSession, name: String, dir: String, id: Int,
      call: Call = new Call(false)): Map[String, Any] = {
    val df = queries(name)(spark, dir)
    call.built(spark)
    val obs = Observation(s"digest_${id}_${System.nanoTime()}")
    val hashed = xxhash64(df.schema.fields.toIndexedSeq.map(f => normalized(col(f.name), f.dataType)): _*)
    df.observe(obs, count(lit(1)).as("rows"), sum(hashed.cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    obs.get
  }

  def check(spark: SparkSession, op: Op, result: Any): Digest = result match {
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      val h = Option(mm("h")).map(_.toString).getOrElse("0")
      Digest(s"${mm("rows")}:$h")
  }
}
