package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, TimeMode, TsAgg, TsAggClient, TsAggSpec}

/**
 * Scale stress (not part of the driver contract): named sections that time
 * operators at a row count far past the graded testdata and assert planted
 * ground truth at that size.
 *
 *   sbt "runMain graft.ScaleBench <rows> [corpus-dir] [section ...]"
 *
 * `rows` sizes the in-memory synthetic series (`spark.range`, no disk, so
 * the measurement isolates the aggregation pipeline); 100,000,000 is 10,000×
 * the reference's 10k-cell fixture. The argument with a `/` in it is the
 * corpus dir the corpus sections read (a `graft.MakeScaled` output). Every
 * other argument names a section; none runs every section the row count
 * and the corpus dir allow. A section's `needs` run before it.
 *
 * Each timed step prints its wall clock and the shuffle and spill bytes of
 * the stages it ran. The ts plan is the one `Explain` shows at sf0.01 —
 * partial agg → one exchange of (partitions × buckets) rows → final agg —
 * so wall clock grows linearly with rows/core and the shuffle stays tiny
 * (672 buckets regardless of N).
 */
object ScaleBench {

  /** One named section. Below `minRows` its planted truth does not hold;
    * `readsCorpus` sections need a corpus dir; `needs` run first. */
  final case class Section(name: String, minRows: Long, needs: Seq[String],
      readsCorpus: Boolean, body: Run => Unit)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.ScaleBench <rows> [corpus-dir] [section ...]")
    val (dirs, names) = args.toSeq.tail.partition(_.contains('/'))
    require(dirs.size <= 1, s"one corpus dir at most, got ${dirs.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as in Bench: inert for sequential jobs (a single job in the lone
      // default pool schedules exactly as FIFO does)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0).toLong, names, dirs.headOption)
    finally spark.stop()
  }

  /** Runs the named sections (every runnable one when `names` is empty),
    * each after its `needs`, and returns the names in the order run. An
    * unknown name, or a named section `rows` or `corpus` cannot feed,
    * fails before anything runs. */
  def run(spark: SparkSession, rows: Long, names: Seq[String],
      corpus: Option[String] = None): Seq[String] = {
    val byName = sections.map(s => s.name -> s).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown section(s) ${unknown.mkString(", ")}; " +
      s"valid: ${sections.map(_.name).mkString(", ")}")
    def runnable(s: Section) = rows >= s.minRows && (corpus.isDefined || !s.readsCorpus)
    val chosen =
      if (names.nonEmpty) names.map(byName)
      else {
        sections.filterNot(runnable).foreach(s => println(s"[scale] ${s.name}: skipped " +
          (if (rows < s.minRows) s"(needs >= ${s.minRows} rows)" else "(reads a corpus dir)")))
        sections.filter(runnable)
      }
    def withNeeds(s: Section): Seq[Section] = s.needs.map(byName).flatMap(withNeeds) :+ s
    val plan = chosen.flatMap(withNeeds).distinct
    plan.filterNot(runnable).headOption.foreach { s =>
      throw new IllegalArgumentException(
        if (rows < s.minRows) s"${s.name} needs at least ${s.minRows} rows, got $rows"
        else s"${s.name} reads a corpus dir (a graft.MakeScaled output); pass one")
    }
    val report = new StageReport
    spark.sparkContext.addSparkListener(report)
    try {
      val r = new Run(spark, rows, corpus, report)
      r.time(f"warmup (count of $rows%,d rows)")(r.series.count())
      plan.foreach(_.body(r))
    } finally spark.sparkContext.removeSparkListener(report)
    plan.map(_.name)
  }

  /** What a section body reads: the session, the shared synthetic series
    * and the timer. */
  final class Run private[ScaleBench] (val spark: SparkSession, val rows: Long,
      corpus: Option[String], report: StageReport) {
    val t0Ms = 1704067200000L
    val spanMs: Long = 7L * 86400000L
    /** 900 s buckets over 7 days: 672 buckets. */
    val spec: TsAggSpec = TsAggSpec(900, TimeMode.CellTs(t0Ms, t0Ms + spanMs))
    /** Deterministic synthetic series: ts spread uniformly over 7 days,
      * values in [0, 100k). */
    val series: DataFrame = spark.range(rows)
      .withColumn("ts", lit(t0Ms) + pmod(col("id") * lit(2654435761L), lit(spanMs)))
      .withColumn("value", pmod(col("id") * lit(40503L), lit(100000L)))
      .select("ts", "value")

    def corpusDir: String = corpus.get

    /** `f`'s result; prints its wall clock and the shuffle and spill bytes
      * of the stages it ran. */
    def time[T](label: String)(f: => T): T = {
      val sc = spark.sparkContext
      report.settle(sc)
      val (s0, p0) = (report.shuffle.get, report.spill.get)
      val t = System.nanoTime()
      val out = f
      val secs = (System.nanoTime() - t) / 1e9
      report.settle(sc)
      println(f"[scale] $label: $secs%.2f s, shuffle ${(report.shuffle.get - s0) / 1e6}%.1f MB, " +
        f"spill ${(report.spill.get - p0) / 1e6}%.1f MB")
      out
    }
  }

  /** Sums every completed stage's shuffle-write and spill bytes. */
  private[ScaleBench] final class StageReport extends SparkListener {
    val shuffle = new AtomicLong
    val spill = new AtomicLong
    private val marker = new AtomicReference[(String, CountDownLatch)]

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(marker.get).filter { case (token, _) =>
        e.properties != null && e.properties.getProperty(MarkerKey) == token
      }.foreach(_._2.countDown())

    /** Returns once this listener has seen every event posted so far. The
      * scheduler posts a job's stage completions before its action
      * returns, and the bus delivers in order, so seeing a marker job's
      * start means every earlier stage was counted. */
    def settle(sc: SparkContext): Unit = {
      val token = java.util.UUID.randomUUID().toString
      val latch = new CountDownLatch(1)
      marker.set((token, latch))
      sc.setLocalProperty(MarkerKey, token)
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.setLocalProperty(MarkerKey, null)
      latch.await(60, TimeUnit.SECONDS): Unit
    }
  }
  private val MarkerKey = "graft.scalebench.marker"

  /** Order-independent output witness: the exact decimal sum of each row's
    * xxhash64 over every column, and the row count. */
  private def checksum(df: DataFrame): (String, Long) = {
    val r = df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
      count(lit(1))).head
    (Option(r.getDecimal(0)).fold("0")(_.toPlainString), r.getLong(1))
  }

  /** `f`'s result and the peak cached-block bytes (memory, disk) sampled
    * every 100 ms while it ran. */
  private def peakStorage[T](spark: SparkSession)(f: => T): (T, Long, Long) = {
    val stop = new AtomicBoolean(false)
    val (mem, disk) = (new AtomicLong, new AtomicLong)
    val sampler = new Thread(() => while (!stop.get()) {
      val infos = spark.sparkContext.getRDDStorageInfo
      mem.accumulateAndGet(infos.map(_.memSize).sum, math.max)
      disk.accumulateAndGet(infos.map(_.diskSize).sum, math.max)
      Thread.sleep(100)
    })
    sampler.setDaemon(true)
    sampler.start()
    val out = try f finally { stop.set(true); sampler.join() }
    (out, mem.get, disk.get)
  }

  /** The batch-BM25 doors whose eager and lazy rows the lazy-door memory
    * probe compares; every one is registered against the same oracle. */
  private val Bm25Doors = Seq("search_bm25_batch", "search_bm25_batch_lazy",
    "search_bm25_batch_indexed", "search_bm25_batch_indexed_lazy")

  val sections: Seq[Section] = Seq(
    Section("ts", minRows = 100000L, needs = Nil, readsCorpus = false, run => {
      import run.{series => df, spec}
      run.time("summary (5 aggs, 1 pass)") {
        val m = TsAggClient.summary(df, spec).collect()
        assert(m.length == 672, s"expected 672 buckets, got ${m.length}")
      }
      run.time("max")(TsAgg.max(df, spec).collect())
      run.time("avg")(TsAgg.avg(df, spec).collect())
      run.time("grouped count (100 series)") {
        TsAgg.count(df.withColumn("series", pmod(col("value"), lit(100L))),
          spec.copy(seriesCols = Seq("series"))).collect()
      }
      // heavy hitters: per-(bucket, key) exact sums (the O(groups) level),
      // then the k-entry TopK partial/final caps everything after at k per
      // bucket
      run.time("top-3 keys per bucket (10k keys, bounded TopK aggregate)") {
        val out = TsAgg.topKPerBucket(
          df.withColumn("user", pmod(col("value"), lit(10000L))), spec, "user", 3)
        val n = out.count()
        println(s"[scale] top-3: $n rows (expect 3 × non-empty buckets)")
        assert(n > 0 && n <= 3L * 673)
      }
      // the sketch form of the same question: ≤ m counters per bucket cross
      // the exchange regardless of key cardinality
      run.time("approx top-3 per bucket (SpaceSaving m=256 vs exact)") {
        val keyed = df.withColumn("user", pmod(col("value"), lit(10000L)))
        val approx = TsAgg.approxTopKPerBucket(keyed, spec, "user", k = 3, m = 256)
          .collect()
        println(s"[scale] approx top-3: ${approx.length} rows, " +
          s"max err ${approx.map(_.getLong(3)).max}")
        assert(approx.length > 0 && approx.length <= 3 * 673)
      }
      // sessionization: the one op whose exchange is necessarily O(events) —
      // a user's events must co-locate (true in any engine); keys are 8
      // bytes. A user is one 30-min slice of the week within one of
      // max(1, rows / 336k) value classes, so all its events fall within one
      // gap and merge into exactly one session at any size: sessions ==
      // users < events. Conservation: every event lands in exactly one
      // session.
      val gapMs = 1800000L
      val slices = run.spanMs / gapMs
      val classes = math.max(1L, run.rows / (slices * 1000L))
      run.time(s"sessionize ${slices * classes} users (30 min gap, native session_window)") {
        val ev = df.select(
          (pmod(col("value"), lit(classes)) * lit(slices) +
            floor((col("ts") - lit(run.t0Ms)) / lit(gapMs))).as("user"),
          col("ts"))
        val agg = TsAgg.sessionWindows(ev, gapMs, Seq("user"))
          .agg(sum("n_events"), count(lit(1))).collect().head
        val total = ev.count()
        val users = ev.select("user").distinct().count()
        println(s"[scale] sessions: ${agg.getLong(1)} sessions of $users users over $total events")
        assert(agg.getLong(0) == total, s"event conservation: ${agg.getLong(0)} != $total")
        assert(agg.getLong(1) == users && users < total,
          s"each user's events merge into one session: ${agg.getLong(1)} sessions, $users users")
      }
    }),

    // Bucket-series operators: the window/stat logic runs on the
    // POST-AGGREGATE O(buckets) frame, so the added cost over a plain sum is
    // ~zero at any N, and the planted truth replays exactly in the driver
    // from the collected bucket sums (integer / fixed-double, no tolerance).
    Section("series", minRows = 100000L, needs = Nil, readsCorpus = false, run => {
      import run.{series => df, spec, t0Ms}
      run.time("movingAvg 4-bucket RANGE frame over the 900s sums") {
        val out = TsAgg.movingAvg(df, spec, nBuckets = 4).collect()
        assert(out.length == 672, s"expected 672 buckets, got ${out.length}")
        val sums = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
        out.foreach { r =>
          val b = r.getLong(0)
          val inWin = (0 to 3).flatMap(k => sums.get(b - k * spec.intervalMs))
          assert(r.getDouble(2) == inWin.sum.toDouble / inWin.length,
            s"mavg replay mismatch at $b")
        }
      }
      run.time("ewmaTrailing 4-bucket dyadic weights over the 900s sums") {
        val out = TsAgg.ewmaTrailing(df, spec, wBuckets = 4).collect()
        assert(out.length == 672, s"expected 672 buckets, got ${out.length}")
        val sums = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
        out.foreach { r =>
          val b = r.getLong(0)
          val inWin = (0 to 3).flatMap(k =>
            sums.get(b - k * spec.intervalMs).map(v => (v, 1L << (3 - k))))
          val expect = inWin.map { case (v, w) => BigInt(v) * w }.sum.toDouble /
            inWin.map(_._2).sum.toDouble
          assert(r.getDouble(2) == expect, s"ewma replay mismatch at $b")
        }
      }
      run.time("anomalies 3σ + one planted 2×-hot bucket") {
        // plant: double bucket 100's mass by unioning a copy of its rows —
        // uniform elsewhere, so exactly that bucket must trip the exact test
        val hotLo = t0Ms + 100L * spec.intervalMs
        val hot = df.filter(col("ts") >= hotLo && col("ts") < hotLo + spec.intervalMs)
        val out = TsAgg.anomalies(df.unionAll(hot), spec, thresholdSigma = 3).collect()
        val flagged = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSeq
        assert(flagged == Seq(hotLo), s"expected only the planted bucket, got $flagged")
        // driver replay of the exact inequality over BigInt — bit-for-bit
        val n = BigInt(out.length); val xs = out.map(r => BigInt(r.getLong(1)))
        val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
        out.zip(xs).foreach { case (r, x) =>
          val lhs = (n * x - s1).pow(2) * (n - 1)
          val rhs = 9 * n * (n * s2 - s1 * s1)
          assert(r.getBoolean(2) == (n >= 2 && lhs > rhs), "flag replay mismatch")
        }
      }
      run.time("fillGaps linear+prev across a planted 96-bucket outage (dense 672 spine)") {
        // cut day 3 entirely: the spine must come back dense with the gap
        // linearly interpolated between the band's edge buckets
        val gapLo = t0Ms + 2L * 86400000L
        val gapHi = t0Ms + 3L * 86400000L
        val outage = df.filter(col("ts") < gapLo || col("ts") >= gapHi)
        val lin = TsAgg.fillGaps(outage, spec, "linear").collect()
        assert(lin.length == 672, s"expected dense 672, got ${lin.length}")
        val present = lin.filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1))
        assert(present.length == 672 - 96, s"expected 96 empty buckets, got ${672 - present.length}")
        val (pt, pv) = present.filter(_._1 < gapLo).maxBy(_._1)
        val (nt, nv) = present.filter(_._1 >= gapHi).minBy(_._1)
        lin.filter(_.isNullAt(1)).foreach { r =>
          val b = r.getLong(0)
          val expect = pv.toDouble + (nv - pv).toDouble * ((b - pt).toDouble / (nt - pt).toDouble)
          assert(r.getDouble(2) == expect, s"linear replay mismatch at $b")
        }
        TsAgg.fillGaps(outage, spec, "prev").collect().filter(_.isNullAt(1)).foreach { r =>
          assert(r.getLong(2) == pv, s"prev fill must carry the outage's left edge")
        }
      }
    }),

    // The search index over the corpus dir: the O(base) build, paid once
    // per corpus and reused from the fixture cache after that.
    Section("bm25index", minRows = 0L, needs = Nil, readsCorpus = true, run =>
      run.time(s"search index over ${run.corpusDir} (built once per corpus)") {
        graft.sources.Fixtures.searchIndexPath(run.spark, run.corpusDir): Unit
      }),

    // Lazy-vs-eager batch-BM25 memory high-water: each registered door's
    // wall, shuffle, spill and peak cached storage for the same batch, run
    // cache-cold, with no conf set (the lazy indexed door sizes its bounds
    // exchange itself). All four outputs must carry one checksum.
    Section("bm25lazymem", minRows = 0L, needs = Seq("bm25index"), readsCorpus = true, run => {
      val sums = Bm25Doors.map { name =>
        val query = SparkEntry.registry.find(_.name == name).get
        Materialize.clear()
        val ((hash, n), mem, disk) = peakStorage(run.spark) {
          run.time(s"$name over ${run.corpusDir} (build + full result)") {
            checksum(query.build(run.spark, run.corpusDir))
          }
        }
        println(f"[scale] bm25 lazymem $name: rows $n%,d, checksum $hash, " +
          f"peak cache ${mem / 1e9}%.2f GB mem + ${disk / 1e9}%.2f GB disk")
        Materialize.clear()
        (hash, n)
      }
      assert(sums.distinct.size == 1 && sums.head._2 > 0,
        s"batch doors disagree: ${Bm25Doors.zip(sums).mkString(", ")}")
    }))
}
