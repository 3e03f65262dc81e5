package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/**
 * Physical-plan contracts: the scale properties README promises are asserted
 * here so a regression (a filter that stops pushing down, an extra exchange,
 * a broadcast that becomes a shuffle join) fails the build instead of
 * silently costing 100× at scale. Plans are inspected pre-AQE (the static
 * plan is what ships to a cluster; AQE then only improves it).
 */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("ts aggregations: range predicate reaches the Parquet scan") {
    val p = plan("ts_max_900")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(ts"),
      s"time bound not pushed:\n$p")
    assert(p.contains("LessThan(ts"), "upper bound not pushed")
  }

  test("ts aggregations: column pruning reads only ts and value") {
    val p = plan("ts_max_900")
    // the driver's fixture has shipped ts as epoch-millis bigint and as
    // timestamp_ntz across rounds; the contract is the PRUNING (two columns
    // reach the scan), not the physical type of ts
    assert("ReadSchema: struct<ts:[a-z_0-9()]+,value:double>".r.findFirstIn(p).isDefined,
      s"over-read:\n$p")
  }

  test("ts aggregations: exactly one aggregation exchange (partial/final split)") {
    val p = plan("ts_max_900")
    // one hashpartitioning exchange for the agg + one rangepartitioning for the
    // final orderBy — the reference-matching single-shuffle shape
    assert(count(p, "Exchange hashpartitioning") == 1, s"agg shuffle count:\n$p")
    assert(count(p, "Exchange rangepartitioning") == 1, s"sort shuffle count:\n$p")
    assert(count(p, "HashAggregate") == 2, "expected partial+final hash aggregate")
  }

  test("one-pass summary keeps the single-scan single-shuffle shape with 5 aggregates") {
    val p = plan("ts_summary_900")
    assert(count(p, "Scan parquet") == 1)
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("ANN top-k broadcasts the query side — corpus never shuffles before scoring") {
    val p = plan("ann_topk_dot")
    assert(p.contains("Broadcast"), s"expected broadcast join:\n$p")
    assert(count(p, "Scan parquet") == 2) // corpus + queries, each scanned once
  }

  test("text analysis is a pure projection: no exchange at all") {
    val p = plan("text_tokens")
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
  }

  test("no blocked dedup query cross-joins — candidates come through equality keys (r2)") {
    Seq("dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
      "span_near_dup", "dedup_semantic", "dedup_image_phash",
      "dedup_incremental_near", "dedup_incremental_spans",
      "dedup_exact_spans", "dedup_cut_spans").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must not cross-join:\n$p")
    }
  }

  test("dedup_embedding low-threshold regime: ONE broadcast nested-loop pass, zero shuffles (r7 #1)") {
    // at cos ≥ 0.45 the auto front door must take the broadcast all-pairs
    // branch: a BroadcastNestedLoopJoin is the INTENDED plan (the n² dot
    // work is irreducible at this threshold; what must not appear is any
    // exchange of candidate pairs — no banding shuffle, no distinct)
    val p = plan("dedup_embedding")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"low-threshold dedup_embedding must dispatch to the broadcast form:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the broadcast branch must not shuffle candidates:\n$p")
    // the high-threshold regime of the same front door stays LSH-blocked
    val hp = graft.operators.Dedup.embeddingNearDupAuto(
      graft.sources.Tables.embeddings(spark, sf), dim = 64,
      thresholdNum = 9, thresholdDen = 10)
      .queryExecution.executedPlan.toString
    assert(!hp.contains("CartesianProduct") && !hp.contains("BroadcastNestedLoopJoin"),
      s"high-threshold regime must stay LSH-blocked:\n$hp")
  }

  test("rowkey range scan: key-range predicate pushes to the Parquet key column") {
    val p = plan("rowkey_range_sum_900")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(key"),
      s"key range start not pushed:\n$p")
    assert(p.contains("LessThan(key"), s"key range stop not pushed:\n$p")
  }

  test("bucket-series ops window the unsorted buckets: no range exchange beneath a window or join") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    object H extends AdaptiveSparkPlanHelper
    def rangeExchanges(p: org.apache.spark.sql.execution.SparkPlan) = H.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    Seq("ts_diff_daily", "ts_diff_daily_by_type", "ts_ewma_900", "ts_anomaly_900",
      "ts_fill_prev_900", "ts_fill_linear_900", "ts_cumsum_900", "ts_moving_avg_900").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      // the window and the final orderBy order the buckets; a sort of the
      // aggregate beneath them is a sampling job and a shuffle paid for nothing
      val hosts = H.collect(p) { case w: WindowExec => w; case j: BaseJoinExec => j }
      assert(hosts.nonEmpty, s"$q: expected a window or join:\n$p")
      hosts.foreach { h =>
        assert(rangeExchanges(h).isEmpty, s"$q: range exchange beneath ${h.nodeName}:\n$p")
      }
      assert(rangeExchanges(p).size <= 1, s"$q: only the final orderBy may range-partition:\n$p")
    }
  }

  test("series-grouped diff windows per series, not one global partition") {
    val p = plan("ts_diff_daily_by_type")
    assert(p.contains("windowspecdefinition(event_type"),
      s"lag window must be partitioned by the series column:\n$p")
  }

  test("corpus_report: one corpus-sized aggregate; the window runs on the bounded domain") {
    val p = plan("corpus_report")
    // the corpus crosses exactly one hashpartitioning exchange — the
    // partial/final aggregate onto (lang, n_tokens). The percentile window
    // and final rollup add exchanges too, but they carry only the grouped
    // domain; the contract is that no SECOND corpus-sized shuffle exists,
    // i.e. the plan aggregates BEFORE it windows
    assert(count(p, "Scan parquet") == 1, s"documents scanned once:\n$p")
    val aggPos = p.indexOf("HashAggregate")
    val winPos = p.indexOf("Window")
    assert(aggPos >= 0 && winPos >= 0 && winPos < p.lastIndexOf("HashAggregate"),
      s"expected aggregate → window → rollup order:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      s"percentile window must partition by lang, not run globally:\n$p")
  }

  test("shard_assign adds ZERO exchanges to the packing it routes: a pure projection") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val packed = graft.operators.TrainingSet.packSequencesWhole(sfDocs, 512L)
    val p = graft.operators.TrainingSet.assignShards(packed, 16, 42L)
      .queryExecution.executedPlan.toString
    // packSequencesWhole ends in a localCheckpoint scan; routing on top of
    // it must be map-side only — any exchange here would shuffle the whole
    // manifest at 100 TB for what is arithmetic on one column
    assert(!p.contains("Exchange"), s"shard routing must not shuffle:\n$p")
  }

  test("chunk_sliding: narrow explode — no exchange anywhere below the sort") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TrainingSet.chunkSliding(sfDocs, 32, 16)
      .queryExecution.executedPlan.toString
    // the registered query orders for the oracle; the OPERATOR itself must
    // be a pure projection+generate — chunking 100 TB may not shuffle it
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected an explode:\n$p")
  }

  test("quality LR scoring: weights are plan constants — no exchange, no join") {
    val sfDocs = graft.sources.Tables.documents(spark, sf)
    val feats = graft.operators.QualityModel.featurize(sfDocs)
    val p = graft.operators.QualityModel.scoreLr(feats, Array(0.1, 0.2, 0.3, 0.4, 0.5))
      .queryExecution.executedPlan.toString
    // the trained model enters the scoring expression as literals: applying
    // the gate corpus-wide is one map-side pass, exactly like the heuristic
    // it distills
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"scoring must be map-side only:\n$p")
  }

  test("budgetedSample: bounded cut rides a checkpoint; corpus crosses no agg exchange") {
    val p = plan("sample_budget_lang")
    // the level-1 bucket aggregate (and the caller's whole corpusReport →
    // mixtureBudget targets subtree) is checkpointed once — the OUTPUT plan
    // re-reads only the tiny bucket frame, never re-aggregates the corpus
    assert(count(p, "Scan ExistingRDD") == 2, s"checkpointed bucket frame ×2:\n$p")
    assert(count(p, "FileScan parquet") == 2,
      s"exactly the two probe passes re-scan the corpus:\n$p")
    // full-bucket membership is a broadcast semi join — the corpus never
    // shuffles; the ONE hashpartitioning exchange feeds the delta-sized
    // in-bucket window (crossing bucket only), partitioned per stratum
    assert(p.contains("LeftSemi, BuildRight"), s"broadcast semi membership:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"one delta-sized exchange (the crossing-bucket window):\n$p")
    assert(p.contains("windowspecdefinition(lang"), s"rank window per stratum:\n$p")
  }

  test("materializeEpochs: repetition is a Generate above the scan — no exchange multiplies") {
    val p = plan("sample_epochs_lang")
    // full epochs multiply the OUTPUT via explode; nothing between the
    // corpus scan and the Generate may shuffle (at 100 TB an exchange here
    // would move target/available copies of the corpus)
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, s"epoch repetition must be a Generate:\n$p")
    val genToScan = p.substring(gen, p.indexOf("FileScan parquet", gen))
    // Parallelism.ensure's RoundRobin rebalance (a no-op once partitions ≥
    // cores, i.e. always at scale) is the only exchange allowed here — a
    // KEYED exchange would mean the repetition itself moves data
    assert(!genToScan.contains("Exchange hashpartitioning") &&
      !genToScan.contains("Exchange rangepartitioning") &&
      !genToScan.contains("Exchange SinglePartition"),
      s"no keyed exchange between Generate and its corpus scan:\n$genToScan")
    assert(!p.contains("SortMergeJoin"), s"epoch plan joins by broadcast only:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"only the remainder cut's delta window exchanges:\n$p")
    assert(count(p, "FileScan parquet") == 3,
      s"three probe passes (explode + semi + crossing bucket):\n$p")
  }

  /** 12 identical documents of 20 distinct tokens: every shingle, band key,
    * fingerprint and gram is held by exactly 12 rows, one per document, and
    * every one of the 66 document pairs is a near-dup with one shared span. */
  private def identicalDocs: DataFrame = {
    import spark.implicits._
    (1L to 12L).map(i => (i, (1 to 20).map(t => s"w$t").mkString(" "))).toDF("doc_id", "text")
  }

  /** The four capped pair generators: (cap name, output at a given cap,
    * output at the default cap). */
  private def cappedGenerators(docs: DataFrame): Seq[(String, Int => DataFrame, () => DataFrame)] =
    Seq(
      ("maxShingleFreq", c => Dedup.ngramJaccard(docs, maxShingleFreq = Some(c)), () => Dedup.ngramJaccard(docs)),
      ("maxBandBucket", c => Dedup.minhashNearDup(docs, maxBandBucket = c), () => Dedup.minhashNearDup(docs)),
      ("maxFpFreq", c => Dedup.spanNearDup(docs, maxFpFreq = Some(c)), () => Dedup.spanNearDup(docs)),
      ("maxGramFreq", c => Dedup.exactSpans(docs, maxGramFreq = Some(c)), () => Dedup.exactSpans(docs)))

  test("capped pair generators pair a key of exactly cap rows, not of cap + 1 rows") {
    // the cap is a count window riding the key's exchange (Dedup.capKeys),
    // so the guard is asserted on the output at the boundary
    val docs = identicalDocs
    cappedGenerators(docs).foreach { case (cap, atCap, default) =>
      assert(atCap(12).count() == 66L, s"$cap = 12: every key is held by exactly 12 rows")
      assert(atCap(11).count() == 0L, s"$cap = 11: every key is held by 12 rows")
      // the default cap (1000) must not fire on a 12-doc corpus
      assert(default().count() == 66L, s"$cap default")
    }
    Seq(Dedup.ngramJaccard(docs, maxShingleFreq = None), Dedup.spanNearDup(docs, maxFpFreq = None),
      Dedup.exactSpans(docs, maxGramFreq = None)).foreach(uncapped => assert(uncapped.count() == 66L))
  }

  test("building a capped pair generator runs no Spark job") {
    cappedGenerators(identicalDocs).foreach { case (cap, atCap, _) =>
      val (_, jobs) = org.apache.spark.GraftListenerSync.jobsOf(spark.sparkContext)(atCap(11))
      assert(jobs == 0, s"$jobs job(s) ran while the $cap caller was built")
    }
  }

  test("curation text queries run compiled kernels: no higher-order function or lambda in the plan") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    // HOFs are CodegenFallback: every lambda call is interpreted per element,
    // which made these five the costliest per-row queries of the registry
    Seq("text_repetition", "filter_repetition", "text_fingerprint", "text_langid",
      "text_quality").foreach { q =>
      val optimized = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val lambdas = optimized.flatMap(_.expressions.flatMap(_.collect {
        case e: HigherOrderFunction => e.prettyName
        case _: LambdaFunction => "lambda"
      }))
      assert(lambdas.isEmpty, s"$q plans ${lambdas.distinct.mkString(", ")}:\n$optimized")
    }
  }
}
