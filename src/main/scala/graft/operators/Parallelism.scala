package graft.operators

import org.apache.spark.sql.DataFrame

/** Source-parallelism guard shared by the corpus operators. */
object Parallelism {

  /**
   * Rebalance a source that delivers fewer partitions than the session's
   * parallelism. A compact corpus (one small parquet file → one input
   * partition, since parquet cannot split below a row group) would otherwise
   * run every map-side pass — MinHash signatures, shingle hashing, SimHash
   * votes — on a single core, no matter how many sit idle. On a
   * cluster-scale input (partitions ≥ cores) this is a no-op: the check reads
   * only the planned partition count, so the 100 TB path never pays the
   * rebalance shuffle it doesn't need.
   */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Three-tier decision. Tier 1 is a pure file listing (no physical
    // planning): ≥ target files always yields ≥ target parallel units, so
    // the guard is a FREE no-op on the many-files production path. Tier 2
    // is a static plan inspection: any frame downstream of a wide operator
    // (join/aggregate/window/distinct/repartition/sort) is partitioned by
    // its exchange — `spark.sql.shuffle.partitions` ≥ the session's
    // parallelism (or AQE has deliberately coalesced a small shuffle), so
    // the rebalance is never needed AND asking the planner would be
    // actively harmful: under AQE, materializing `.rdd` on a derived frame
    // EXECUTES its upstream shuffle stages eagerly at plan-construction
    // time, then again at action time (r8 measured this as a visible slice
    // of the crawl pipeline's job count). Tier 3 — a leaf-only plan over
    // few/no files — asks the planner for the real partition count; that
    // pays a throwaway planning pass, but only where it's cheap (a compact
    // corpus) or unavoidable (non-file test frames). Crucially the planner
    // answer stays authoritative there: one LARGE file splits into many
    // partitions (maxPartitionBytes), and blindly repartitioning it to
    // `target` would both shuffle the corpus and REDUCE its parallelism.
    if (df.inputFiles.length >= target) df
    else {
      import org.apache.spark.sql.catalyst.plans.logical._
      // Exchange-forcing check on the OPTIMIZED plan (ADVICE r8): a Join is
      // only proof of shuffle partitioning when it will actually shuffle —
      // a broadcast join preserves the STREAM side's partitioning, so a
      // few-file leaf enriched via broadcast join keeps ~1 partition and
      // must still rebalance. Sizes come from the optimizer's stats (the
      // same sizeInBytes the planner's own broadcast decision reads);
      // when either side fits the broadcast threshold the walk continues
      // into the PROBABLE stream side only. Distinct/Deduplicate rewrite to
      // Aggregate during optimization, so the Aggregate case covers both
      // DataFrame .distinct() (a Deduplicate node pre-optimization — the
      // analyzed-plan match never saw it) and SQL DISTINCT; the explicit
      // cases remain for plans inspected before those rules fire.
      val broadcastThreshold =
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      def shufflePartitioned(p: LogicalPlan): Boolean = p match {
        // A CACHED frame hides its provenance behind a logical leaf, so the
        // pre-r20 walk fell through to tier 3 — and tier 3's `.rdd` on a
        // cached frame EXECUTES the whole cache-fill subtree as real jobs at
        // plan-construction time (measured in the crawl pipelines: every
        // `ensure` meeting a shared (persisted) frame re-ran the upstream
        // probe→cut→scrub chain; the discarded grown-index build alone paid
        // it three times per query). Read the cached PHYSICAL plan instead:
        // any shuffle exchange below the cache (or an AQE-planned subtree,
        // which implies one) means the cached data already carries shuffle
        // partitioning and the rebalance is never needed. A cached NARROW
        // few-file scan still falls through to tier 3, where the `.rdd`
        // planning pass is the cheap leaf-only case tier 3 exists for.
        case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          imr.cachedPlan.exists {
            case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
            case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => true
            case _ => false
          }
        case j: Join =>
          val leftSmall = broadcastThreshold >= 0 &&
            j.left.stats.sizeInBytes <= broadcastThreshold
          val rightSmall = broadcastThreshold >= 0 &&
            j.right.stats.sizeInBytes <= broadcastThreshold
          if (leftSmall && !rightSmall) shufflePartitioned(j.right)
          else if (rightSmall && !leftSmall) shufflePartitioned(j.left)
          else if (leftSmall && rightSmall)
            shufflePartitioned(j.left) || shufflePartitioned(j.right)
          else true // neither side broadcast-able: shuffled equi/cartesian join
        case _: Aggregate | _: Window | _: Distinct | _: Deduplicate => true
        case _: RepartitionOperation | _: Sort => true
        case other => other.children.exists(shufflePartitioned)
      }
      if (shufflePartitioned(df.queryExecution.optimizedPlan)) df
      else if (df.rdd.getNumPartitions < target) df.repartition(target)
      else df
    }
  }
}
