package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/**
 * Time-derivation mode for a tumbling-bucket aggregation.
 *
 * The reference engine (juwi/HBase-TAggregator) selects between two mutually
 * exclusive timestamp sources per request (SURVEY §1.2; reference
 * `AggregationBuilder.java:82-86`, `TimeseriesAggregateImplementation.java:147-152`):
 *
 *  - [[TimeMode.KeyEmbedded]] — the logical time is embedded in the rowkey
 *    (big-endian epoch-seconds int) plus a per-sample qualifier offset. The
 *    reference pre-generates the bucket list with a do/while that adds a bucket
 *    and *then* tests the bound (`TimeseriesAggregateImplementation.java:107-110`),
 *    so one trailing bucket starting exactly at `t1` is included and aggregates
 *    data past `t1` (SURVEY §2.3 #3).
 *  - [[TimeMode.CellTs]] — the cell version timestamp is the logical time and the
 *    scan's TimeRange cuts hard at `t1` (exclusive).
 *
 * All bounds are epoch **milliseconds** (the reference's native unit:
 * `AggregationBuilder.java:97-100`).
 */
sealed trait TimeMode {
  def t0Ms: Long
  def t1Ms: Long
}
object TimeMode {
  /** Cell-timestamp mode: half-open scan range `[t0, t1)`. */
  final case class CellTs(t0Ms: Long, t1Ms: Long) extends TimeMode

  /**
   * Key-embedded mode: buckets are generated from `t0` until the bucket *start*
   * exceeds `t1`, so the effective data range is `[t0, bucketStart(t1) + interval)`.
   */
  final case class KeyEmbedded(t0Ms: Long, t1Ms: Long) extends TimeMode
}

/**
 * Specification of one tumbling-bucket aggregation, mirroring the reference's
 * request proto (interval + time range + mode; `TimeseriesAggregate.proto:24-42`)
 * re-expressed over a columnar DataFrame (SURVEY §1.5 mapping).
 *
 * @param intervalSec bucket width in seconds (`time_interval_seconds`, proto:34)
 * @param mode        timestamp source + range (SURVEY §1.2)
 * @param tsCol       event-time column: TimestampType, or LongType epoch millis
 * @param valueCol    value column (already decoded; see [[graft.functions.Decoders]]
 *                    for the ColumnInterpreter-equivalent plug point)
 * @param seriesCols  optional extra grouping keys (strict superset of the
 *                    reference, which always aggregates the whole scan)
 *
 * Validation is eager and hard (SURVEY §2.3 #8 — the reference throws
 * IOException on `start >= stop` and we make its silent mask-mismatch path a
 * hard error too, in [[graft.functions.RowKeys]]).
 */
final case class TsAggSpec(
    intervalSec: Long,
    mode: TimeMode,
    tsCol: String = "ts",
    valueCol: String = "value",
    seriesCols: Seq[String] = Nil) {
  require(intervalSec > 0, s"intervalSec must be positive, got $intervalSec")
  require(
    mode.t0Ms < mode.t1Ms,
    s"time range start (${mode.t0Ms}) must be < end (${mode.t1Ms})") // ref client :575-581

  def intervalMs: Long = intervalSec * 1000L

  /** Start of the bucket containing `tMs` (alignment to `t0`, not epoch — SURVEY §2.3 #2). */
  def bucketStartOf(tMs: Long): Long = {
    val d = tMs - mode.t0Ms
    mode.t0Ms + (d - Math.floorMod(d, intervalMs))
  }

  /**
   * Exclusive upper bound of the data actually aggregated.
   * Key mode includes the trailing bucket that *starts* at `t1`
   * (`TimeseriesAggregateImplementation.java:107-110`); cell-ts mode cuts at `t1`.
   */
  def scanEndMs: Long = mode match {
    case TimeMode.CellTs(_, t1)      => t1
    case TimeMode.KeyEmbedded(_, t1) => bucketStartOf(t1) + intervalMs
  }
}

/**
 * Tumbling-interval time-bucket aggregation — the reference engine's entire
 * query surface (`max`/`min`/`sum`/`avg` client methods at
 * `TimeseriesAggregationClient.java:129,229,329,522` plus the server-only
 * `GetCount` RPC, `TimeseriesAggregate.proto:73`), re-expressed as one
 * declarative Spark plan per query:
 *
 * {{{ scan → filter(ts bounds) → project(bucket_start) → groupBy(bucket).agg → orderBy }}}
 *
 * Catalyst turns this into exactly the reference's physical shape at any scale:
 * Parquet scan with the ts-range predicate pushed into row-group pruning, a
 * partial `HashAggregateExec` per partition (≈ per-RegionServer coprocessor agg),
 * one shuffle keyed by bucket (≈ the RPC gather), and a final `HashAggregateExec`
 * (≈ the client-side merge callbacks, `TimeseriesAggregationClient.java:160-508`).
 * With W buckets the shuffle carries O(partitions × W) pre-aggregated rows, never
 * raw cells, so the plan survives a 100 TB scan unchanged. Empty buckets are
 * naturally omitted (SURVEY §2.3 #4) because bucket keys only exist where cells do.
 */
object TsAgg {

  /** `tsCol` normalized to epoch-millis Long regardless of column type. */
  private def tsMillis(df: DataFrame, spec: TsAggSpec): Column =
    df.schema(spec.tsCol).dataType match {
      case TimestampType => unix_millis(col(spec.tsCol))
      case LongType      => col(spec.tsCol)
      case other =>
        throw new IllegalArgumentException(
          s"tsCol '${spec.tsCol}' must be TimestampType or LongType epoch millis, got $other")
    }

  /**
   * Bucket-start expression: `t0 + (d - d mod iv)` with `d = tsMs - t0`.
   * Pure long arithmetic (no floating-point division) so the result is exact at
   * any epoch value — `floor(x / iv)` via doubles can be off by one ulp.
   */
  def bucketStartExpr(tsMs: Column, t0Ms: Long, intervalMs: Long): Column = {
    val d = tsMs - lit(t0Ms)
    (lit(t0Ms) + (d - pmod(d, lit(intervalMs)))).as("bucket_start")
  }

  /** Filter + bucket projection shared by every aggregate. */
  def withBuckets(df: DataFrame, spec: TsAggSpec): DataFrame = {
    val ts = tsMillis(df, spec)
    df.filter(ts >= lit(spec.mode.t0Ms) && ts < lit(spec.scanEndMs))
      .withColumn("bucket_start", bucketStartExpr(ts, spec.mode.t0Ms, spec.intervalMs))
  }

  /**
   * Generic entry: apply any aggregate expressions per (series, bucket).
   * This is the engine's UDAF extension surface (reference `Aggregator`
   * interface, `common/aggregation/Aggregator.java:16-23`): callers pass
   * Catalyst aggregate Columns, so plug-in aggregations stay codegen'd instead
   * of reflectively instantiated.
   */
  def aggregate(df: DataFrame, spec: TsAggSpec, aggExprs: Seq[Column]): DataFrame = {
    val keys = (spec.seriesCols :+ "bucket_start").map(col)
    withBuckets(df, spec)
      .groupBy(keys: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .orderBy(keys: _*) // sorted output, ref ConcurrentSkipListMap (O1)
  }

  private def v(spec: TsAggSpec): Column = col(spec.valueCol)

  /** Per-bucket MAX (A1+M1). Null values never win: Spark `max` skips nulls, matching `Max.java:33`. */
  def max(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.max(v(spec)).as("max_value")))

  /** Per-bucket MIN (A2+M2). */
  def min(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.min(v(spec)).as("min_value")))

  /** Per-bucket SUM (A3+M3). Nulls skipped (`Sum.java:35`); empty buckets absent, not 0. */
  def sum(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))

  /**
   * Per-bucket COUNT of cells (A4): the reference counts every in-range cell,
   * null value or not (`Count.java:29-33` never decodes the value), and counts
   * samples, not rows (SURVEY §2.3 #5) — hence `count(*)`, not `count(value)`.
   */
  def count(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.count(lit(1)).as("count_value")))

  /**
   * Per-bucket AVG (A5+M4+M5): always Double, computed as global sum / global
   * count across partitions — not avg-of-partial-avgs
   * (`TimeseriesAggregationClient.java:428-434,547-557`). Spark's `avg` keeps
   * exactly the reference's (sum, count) partial pair.
   */
  def avg(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.avg(v(spec)).as("avg_value")))

  /**
   * Per-bucket weighted average — README's planned-but-unimplemented operator
   * (`README.md:31-32`): `sum(value*weight) / sum(weight)`, one pass, one shuffle.
   */
  def weightedAvg(df: DataFrame, spec: TsAggSpec, weightCol: String): DataFrame =
    aggregate(
      df,
      spec,
      Seq((functions.sum(v(spec) * col(weightCol)) / functions.sum(col(weightCol)))
        .as("wavg_value")))

  /**
   * Per-bucket DISTINCT count of `keyCol` (e.g. active users per window) —
   * beyond the reference's five aggregates but a staple of every production
   * time-series stack. Exact form: Spark plans `count(DISTINCT k)` as a
   * two-level aggregate (dedup on (bucket, k), then count) — shuffle carries
   * distinct pairs, never raw cells.
   */
  def distinctCount(df: DataFrame, spec: TsAggSpec, keyCol: String): DataFrame =
    aggregate(df, spec,
      Seq(functions.count_distinct(col(keyCol)).as("n_distinct")))

  /**
   * Approximate per-bucket distinct count via Spark's built-in HLL++ sketch
   * (`approx_count_distinct`) — the 100 TB form: constant-size sketch per
   * bucket regardless of key cardinality, single-pass partial/final merge
   * (the exact form's dedup level shuffles one row per distinct pair, which
   * at billions of distinct keys IS the bottleneck). `rsd` = target relative
   * standard deviation (default 5%); not oracle-comparable by design —
   * `TsAggGoldenSpec` bounds it against [[distinctCount]] instead.
   */
  def approxDistinctCount(
      df: DataFrame, spec: TsAggSpec, keyCol: String, rsd: Double = 0.05): DataFrame =
    aggregate(df, spec,
      Seq(functions.approx_count_distinct(col(keyCol), rsd).as("n_distinct_approx")))

  /**
   * Adaptive per-bucket distinct count — [[topKAuto]]'s dispatch applied to
   * the distinct-count pair (VERDICT r10 #4, the last gated row without a
   * front door): one cheap HLL probe estimates the distinct
   * (series, bucket, key) PAIR cardinality — which IS the exact form's
   * dedup-level exchange size, the quantity whose growth makes exact
   * uneconomical — and at or under `maxExactPairs` the exact two-level
   * `count(DISTINCT)` runs; above it the constant-size HLL++ sketch.
   *
   * Output schema is FORM-INDEPENDENT (`n_distinct_est`): the exact branch
   * is error-free, so at gate-scale cardinalities the SAME SQL oracle
   * verifies the front door end-to-end (the `ts_top3_auto_900` pattern);
   * the sketch branch is error-bounded against the exact twin in
   * TsAggGoldenSpec by forcing `maxExactPairs = 0`. The probe costs one
   * narrow scan with O(partitions) HLL partials, and its ±2% error is
   * irrelevant at the boundary — both branches are correct, only their
   * cost curves cross (the default keeps exact while the dedup exchange
   * stays ≤ 2²⁰ rows ≈ tens of MB).
   */
  def distinctCountAuto(df: DataFrame, spec: TsAggSpec, keyCol: String,
      rsd: Double = 0.05, maxExactPairs: Long = 1L << 20): DataFrame = {
    val est = withBuckets(df, spec)
      .agg(functions.approx_count_distinct(
        functions.struct((spec.seriesCols :+ "bucket_start" :+ keyCol).map(col): _*)).as("n"))
      .head().getLong(0)
    if (est <= maxExactPairs)
      distinctCount(df, spec, keyCol)
        .withColumnRenamed("n_distinct", "n_distinct_est")
    else
      approxDistinctCount(df, spec, keyCol, rsd)
        .withColumnRenamed("n_distinct_approx", "n_distinct_est")
  }

  /**
   * Adaptive per-bucket quantile — [[distinctCountAuto]]'s dispatch shape
   * applied to the ordered statistic. The exact interpolated form buffers
   * each group's values, so its feasibility is governed by the LARGEST
   * (series, bucket) sample count: the probe computes exactly that (count
   * per group, then max — two bounded aggregates whose exchange carries
   * O(groups) partials, never cells). At or under `maxExactGroup` the
   * oracle-verifiable exact form serves; past it the Greenwald-Khanna
   * sketch ([[approxPercentile]]: constant memory per bucket, mergeable
   * partials) takes over. Both arms alias the form-independent
   * `p<·>_est`, so a caller's schema is dispatch-stable — and the bench
   * artifact gates the sketch arm's rel-err vs the exact twin per round
   * (`ts_p95_auto_900_forced_sketch`), the same
   * both-arms-always-measured contract as the distinct dispatch.
   */
  def quantileAuto(df: DataFrame, spec: TsAggSpec, p: Double,
      maxExactGroup: Long = 1L << 20, accuracy: Int = 10000): DataFrame = {
    val probe = withBuckets(df, spec)
      .groupBy((spec.seriesCols :+ "bucket_start").map(col): _*)
      .agg(functions.count(functions.lit(1)).as("n"))
      .agg(functions.max("n")).head()
    val maxGroup = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    val est = s"${pLabel(p)}_est"
    if (maxGroup <= maxExactGroup)
      percentile(df, spec, p).withColumnRenamed(s"${pLabel(p)}_value", est)
    else
      approxPercentile(df, spec, p, accuracy)
        .withColumnRenamed(s"${pLabel(p)}_approx", est)
  }

  /**
   * Per-bucket exact percentile (interpolated, `(n-1)*p` rank convention —
   * the same convention as DuckDB `quantile_cont`/Postgres
   * `percentile_cont`). Bit-exact vs DuckDB at ANY `p`: both engines phrase
   * the interpolation as `lo*(1-f) + hi*f`, the identical IEEE sequence
   * (ts_median_900 AND ts_p95_900 sit under the hash gate — 649 buckets of
   * real data each). `p = 0.5` is additionally exact by construction
   * (integer endpoints, exact 0.5 products). Caveat for OTHER oracles: an
   * engine phrasing the same quantile as `(hi-lo)*f + lo` (e.g. numpy
   * 'linear') diverges in the last ulp — hash-compare only against the
   * `lo*(1-f) + hi*f` family.
   *
   * Scale: Spark's exact `percentile` buffers each group's values — bounded
   * by cells per (series, bucket), which a time-bucketed spec keeps small
   * (it is the per-bucket sample count, not the corpus). For huge groups or
   * wide sweeps use [[approxPercentile]]: constant-size sketch, partial/final
   * merge, the 100 TB form.
   */
  /** Column label for percentile p: `p95` when p×100 round-trips exactly
    * (`.toInt` truncated — 0.29 became p28 via binary float — and nearby p
    * values collided: 0.95 vs 0.955); otherwise the full p is embedded
    * (`p0_955`), so distinct p never share a name. */
  private def pLabel(p: Double): String = {
    val c = math.round(p * 100).toInt
    if (c / 100.0 == p) s"p$c" else "p" + p.toString.replace('.', '_')
  }

  def percentile(df: DataFrame, spec: TsAggSpec, p: Double): DataFrame =
    aggregate(df, spec,
      Seq(functions.percentile(v(spec), functions.lit(p)).as(s"${pLabel(p)}_value")))

  /** Per-bucket median: the `p = 0.5` bit-exact case of [[percentile]]. */
  def median(df: DataFrame, spec: TsAggSpec): DataFrame =
    aggregate(df, spec, Seq(functions.median(v(spec)).as("median_value")))

  /**
   * Approximate per-bucket percentile (Greenwald-Khanna sketch,
   * `approx_percentile`) — constant memory per bucket, mergeable partials.
   * Merge-order-dependent, hence neither oracle- nor golden-comparable;
   * `TsAggGoldenSpec` bounds it against the exact form instead.
   */
  def approxPercentile(df: DataFrame, spec: TsAggSpec, p: Double,
      accuracy: Int = 10000): DataFrame =
    aggregate(df, spec,
      Seq(functions.approx_percentile(v(spec), functions.lit(p), functions.lit(accuracy))
        .as(s"${pLabel(p)}_approx")))

  /**
   * Per-bucket heavy hitters: the `k` keys with the largest per-bucket value
   * sums, ranked — "top users per window", the companion every per-window
   * aggregate stack grows. Two bounded levels: exact sums per (bucket, key)
   * — partial aggregation collapses raw cells map-side — then a k-entry
   * [[graft.functions.TopK]] AGGREGATE per bucket. Never a `row_number`
   * window: the window form shuffles every (bucket, key) row into one
   * reducer per bucket and sorts it; the aggregate form's partials cap what
   * leaves each map task at k entries. Ties rank lower id first (TopK's
   * total order), so output is deterministic at any parallelism. Null sums
   * (all-null value groups) are not candidates, per TopK's non-null
   * contract.
   */
  def topKPerBucket(df: DataFrame, spec: TsAggSpec, keyCol: String, k: Int): DataFrame = {
    val summed = withBuckets(df, spec)
      .groupBy((spec.seriesCols :+ "bucket_start").map(col) :+ col(keyCol): _*)
      .agg(functions.sum(v(spec)).as("key_sum"))
      .filter(col("key_sum").isNotNull)
    val grpKeys = (spec.seriesCols :+ "bucket_start").map(col)
    summed.groupBy(grpKeys: _*)
      .agg(graft.functions.TopK.topKLong(k)(col("key_sum"), col(keyCol)).as("tk"))
      .select(grpKeys :+ posexplode(col("tk.entries")).as(Seq("r0", "e")): _*)
      .select(grpKeys ++ Seq(col("e.id").as(keyCol), col("e.score").as("sum_value"),
        (col("r0") + 1).cast("long").as("rank")): _*)
      .orderBy(grpKeys :+ col("rank"): _*)
  }

  /**
   * Per-bucket counts pivoted into one column per category value — the
   * wide-format report (one row per window, one column per event type) BI
   * layers ask of a time-series store. `values` must be EXPLICIT: an
   * unlisted-values pivot makes Spark run a distinct-scan job at plan time
   * and yields a data-dependent schema — both wrong for a 100 TB pipeline
   * (and for any oracle). Absent (bucket, value) cells are NULL, Spark's
   * pivot convention (= SQL `sum(CASE WHEN ...)` over no rows), not 0.
   * Two bounded aggregate levels (plan-asserted): counts per (bucket,
   * value), then PivotFirst folds values into columns per bucket — BOTH
   * exchanges carry only pre-aggregated rows, O(buckets × values), never
   * raw cells.
   */
  def pivotCounts(df: DataFrame, spec: TsAggSpec, pivotCol: String,
      values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "pivot values must be explicit (schema-stable at scale)")
    val keys = (spec.seriesCols :+ "bucket_start").map(col)
    withBuckets(df, spec)
      .groupBy(keys: _*)
      .pivot(pivotCol, values)
      .agg(functions.count(lit(1)))
      .orderBy(keys: _*)
  }

  /**
   * Approximate per-bucket heavy hitters via the mergeable SpaceSaving
   * sketch — the 100 TB form of [[topKPerBucket]]: the exact form's first
   * level materializes every (bucket, key) sum (O(distinct keys) exchange
   * rows — SCALE.md measures it as the dominant cost at 10k keys), while the
   * sketch holds at most `m` counters per bucket NO MATTER the key
   * cardinality, so the exchange carries O(partitions × buckets × m) rows at
   * a billion distinct keys. Guarantee: every key with total weight > W/m
   * per bucket is present; `count − err ≤ true ≤ count`. Like every counter
   * sketch the estimates are observation-order-dependent, so coverage is
   * bound-based (TsAggGoldenSpec), never bit-compared. Weights must be
   * non-negative — zero-weight rows are no-ops (`weightCol = None` ranks by
   * event count).
   */
  def approxTopKPerBucket(
      df: DataFrame, spec: TsAggSpec, keyCol: String, k: Int,
      m: Int = 256, weightCol: Option[String] = None): DataFrame = {
    val grpKeys = (spec.seriesCols :+ "bucket_start").map(col)
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    withBuckets(df, spec)
      .groupBy(grpKeys: _*)
      .agg(graft.functions.SpaceSaving.topKByWeight(k, m)(col(keyCol), w).as("tk"))
      .select(grpKeys :+ posexplode(col("tk.entries")).as(Seq("r0", "e")): _*)
      .select(grpKeys ++ Seq(col("e.id").as(keyCol),
        col("e.count").as("est_weight"), col("e.err").as("err"),
        (col("r0") + 1).cast("long").as("rank")): _*)
      .orderBy(grpKeys :+ col("rank"): _*)
  }

  /**
   * Adaptive per-bucket heavy hitters — the front door that picks the exact
   * form or the SpaceSaving sketch from a cheap cardinality probe
   * (VERDICT r6 #8). The crossover is measured, not guessed: SCALE.md's
   * 100M-row run puts the exact form's level-1 exchange at 936 MB against
   * the sketch's 41 MB at 10k keys — the exact form's shuffle is
   * O(distinct (bucket, key) pairs) while the sketch's is O(buckets × m) at
   * ANY cardinality, so the decision variable is the distinct-key count.
   * The probe is one `approx_count_distinct` pass (HLL partials, ~2%
   * error, O(partitions) exchange rows); its cost is one narrow scan, paid
   * once, and the ±2% error is irrelevant at the decision boundary — both
   * forms are correct, only their cost curves cross.
   *
   * Output schema is FORM-INDEPENDENT (`…, keyCol, est_weight, err, rank`):
   * the exact branch reports `err = 0`, so callers and oracles read one
   * shape. With the default `maxExactKeys = 1 << 20` the exact branch's
   * worst-case level-1 exchange stays ≈ buckets-per-key-bounded and well
   * under the sketch's accuracy regime; rows above that flip to the sketch.
   */
  /**
   * Regime-dispatched trending / per-bucket heavy hitters (VERDICT r9
   * missing #3): run the SpaceSaving sketch — the cheap O(buckets × m)
   * form — then CERTIFY it from its own counters before trusting it.
   *
   * The certificate proves the property the answer is consumed for: "the
   * TRUE top-1 key is inside the reported top-k". Over the bucket's full
   * m-entry sketch, let `lb* = max(count − err)` — a weight some real key
   * provably reaches (count − err lower-bounds its owner's true weight).
   * Any key whose `count` (an UPPER bound on its true weight) is below
   * `lb*` cannot be the true top-1; a key absent from an at-capacity
   * sketch has true weight ≤ the sketch's minimum count ≤ the (k+1)-th
   * count. So `count(k+1) < lb*` certifies that every possible true-top-1
   * candidate sits inside the reported top-k (an under-capacity sketch
   * with ≤ k entries certifies trivially — it saw every key). This
   * subsumes the first-cut r10 criterion `(count₁ − err₁)·m > W`, which
   * proved only that SOME heavy key exists — true on any weight-skewed
   * stream even when the inter-rank gaps are smaller than the merge error,
   * precisely the regime the sf1 sweep exposed (real top weights 3× over
   * W/m, yet top-1 containment 0.585: the heavy keys were all IN the m
   * counters, just not provably in the top 3 BY ESTIMATE).
   *
   * When more than `maxUncertifiedFrac` of buckets fail the certificate,
   * the sketch is DISCARDED and the exact bounded TopK ([[topKPerBucket]],
   * the `topKAuto` exact branch) runs instead — same output schema,
   * `err ≡ 0`. Certified buckets contain their true top-1 BY PROOF, so a
   * dispatch that keeps the sketch guarantees top-1 containment
   * ≥ 1 − maxUncertifiedFrac; the default 0.05 keeps that worst case at
   * the bench gate's own 0.95 floor.
   *
   * Cost shape: the probe IS the cheap form (one O(buckets × m) pass —
   * the full-m agg output equals the merge buffers that cross the
   * exchange anyway; the certification aggregate reads O(buckets) rows
   * from the scoped cache); the exact form's O(distinct keys) shuffle is
   * paid exactly when correctness demands it.
   */
  def trendingAuto(
      df: DataFrame, spec: TsAggSpec, keyCol: String, k: Int,
      m: Int = 256, weightCol: Option[String] = None,
      maxUncertifiedFrac: Double = 0.05): DataFrame = {
    val grpKeys = (spec.seriesCols :+ "bucket_start").map(col)
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    // k = m in the agg: keep the FULL sketch so the certificate can read
    // the (k+1)-th count; the per-bucket merge buffers carry m entries
    // across the exchange regardless, so this costs nothing new
    val sk = Materialize.share(
      withBuckets(df, spec)
        .groupBy(grpKeys: _*)
        .agg(graft.functions.SpaceSaving.topKByWeight(m, m)(col(keyCol), w).as("tk")))
    val entries = col("tk.entries")
    val n = size(entries)
    val lbStar = array_max(transform(entries,
      e => e.getField("count") - e.getField("err")))
    // `get` (0-based, NULL out of range), not `element_at`: ANSI mode
    // throws on out-of-range and CaseWhen branch CSE can evaluate a
    // guarded branch's value eagerly (same hazard registrableDomainProbe
    // documents) — with `get` an impossible index is a harmless NULL
    val certified =
      when(n === 0, lit(false))
        // ≤ k entries: all observed keys are reported; if the sketch never
        // reached capacity nothing was ever evicted, so absent keys have
        // true weight 0 (an at-capacity sketch bounds them by its min count)
        .when(n <= k, lit(k < m) ||
          get(entries, n - 1).getField("count") < lbStar)
        .otherwise(get(entries, lit(k)).getField("count") < lbStar)
    val stats = sk.agg(functions.count(lit(1)),
      functions.sum(when(certified, 1L).otherwise(0L))).head()
    val uncertified =
      if (stats.getLong(0) == 0L) 0.0
      else 1.0 - stats.getLong(1).toDouble / stats.getLong(0)
    if (uncertified <= maxUncertifiedFrac) {
      sk.select(grpKeys :+ posexplode(entries).as(Seq("r0", "e")): _*)
        .filter(col("r0") < k)
        .select(grpKeys ++ Seq(col("e.id").as(keyCol),
          col("e.count").as("est_weight"), col("e.err").as("err"),
          (col("r0") + 1).cast("long").as("rank")): _*)
        .orderBy(grpKeys :+ col("rank"): _*)
    } else {
      val exactSpec = weightCol.map(c => spec.copy(valueCol = c)).getOrElse(spec)
      topKPerBucket(df, exactSpec, keyCol, k)
        .select((grpKeys ++ Seq(col(keyCol),
          col("sum_value").as("est_weight"), lit(0L).as("err"), col("rank"))): _*)
    }
  }

  def topKAuto(
      df: DataFrame, spec: TsAggSpec, keyCol: String, k: Int,
      m: Int = 256, maxExactKeys: Long = 1L << 20): DataFrame = {
    val est = df.agg(functions.approx_count_distinct(col(keyCol)).as("n"))
      .head().getLong(0)
    if (est <= maxExactKeys) {
      val grpKeys = spec.seriesCols :+ "bucket_start"
      topKPerBucket(df, spec, keyCol, k)
        .select((grpKeys.map(col) ++ Seq(col(keyCol),
          col("sum_value").as("est_weight"), lit(0L).as("err"), col("rank"))): _*)
    } else {
      approxTopKPerBucket(df, spec, keyCol, k, m, weightCol = Some(spec.valueCol))
    }
  }

  /**
   * Gap-based sessionization via Spark's native `session_window` (the
   * Spark-first form — the same call runs under Structured Streaming with
   * watermark-merged session state): events of one key belong to one session
   * while each is within `gapMs` of the previous, INCLUSIVE — Spark merges
   * touching windows, so an event at exactly `prev + gapMs` joins the
   * session and only a strictly larger gap splits (pinned by a
   * TsAggGoldenSpec boundary case; the registered oracle mirrors it with
   * `diff > gap`). `session_end` is last event + gap, Spark's window.end.
   * Emits one row per session: `keyCols..., session_start, session_end` +
   * `aggExprs`.
   *
   * Scale shape: session assembly is a keyed aggregation (merging window
   * state per key), not a global sort; skew is bounded by a single key's
   * event count, the same exposure as any per-key window, and the output is
   * O(sessions), not O(events).
   */
  def sessionWindows(
      df: DataFrame, gapMs: Long, keyCols: Seq[String], tsCol: String = "ts",
      aggExprs: Seq[Column] = Seq(functions.count(lit(1)).as("n_events"))): DataFrame = {
    require(gapMs > 0, s"gapMs must be positive, got $gapMs")
    // session_window takes the column DIRECTLY (no intermediate alias): under
    // streaming the caller's withWatermark metadata rides on tsCol, and a
    // rebuilt column would shed it
    val ts = df.schema(tsCol).dataType match {
      case TimestampType => col(tsCol)
      case LongType      => timestamp_millis(col(tsCol))
      case other => throw new IllegalArgumentException(
        s"tsCol '$tsCol' must be TimestampType or LongType epoch millis, got $other")
    }
    val sessions = df
      .groupBy(session_window(ts, s"$gapMs milliseconds") +: keyCols.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .withColumn("session_start", unix_millis(col("session_window.start")))
      .withColumn("session_end", unix_millis(col("session_window.end")))
      .drop("session_window")
    // a streaming frame cannot sort (append mode emits as watermark closes
    // sessions); batch output is ordered for the deterministic hash gate
    if (df.isStreaming) sessions
    else sessions.orderBy(keyCols.map(col) :+ col("session_start"): _*)
  }

  /**
   * Per-bucket difference vs the previous bucket — README's planned `diff`
   * operator (`README.md:33-34`): SUM per bucket, then `value - lag(value)`
   * over bucket order. The window runs on post-aggregate rows (O(#buckets),
   * not O(cells)), partitioned by series so no single-partition bottleneck
   * when series keys are present.
   */
  def diff(df: DataFrame, spec: TsAggSpec): DataFrame = {
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    // With no series columns the lag window is necessarily a single ordered
    // partition — bounded because its input is post-aggregate (one row per
    // bucket, O((t1-t0)/interval), not O(cells)). A multi-year 1-second-
    // interval spec is the only way to make this large; such specs should
    // carry series columns (each series windows independently) or chunk the
    // range. The row count makes the bound visible at plan time.
    val w =
      if (spec.seriesCols.isEmpty) Window.orderBy(col("bucket_start"))
      else Window.partitionBy(spec.seriesCols.map(col): _*).orderBy(col("bucket_start"))
    summed
      .withColumn("diff_value", col("sum_value") - lag(col("sum_value"), 1).over(w))
      .orderBy((spec.seriesCols :+ "bucket_start").map(col): _*)
  }

  /** The series-aware ordered window shared by the bucket-series operators
    * (diff/movingAvg/fillGaps): partitioned per series when series columns are
    * present, one ordered partition otherwise — bounded in both cases because
    * the input is post-aggregate (O(buckets), never O(cells); see [[diff]]). */
  private def seriesWindow(spec: TsAggSpec) =
    if (spec.seriesCols.isEmpty) Window.orderBy(col("bucket_start"))
    else Window.partitionBy(spec.seriesCols.map(col): _*).orderBy(col("bucket_start"))

  /**
   * Trailing moving average over the bucket series: SUM per bucket, then the
   * average of the buckets inside the trailing `nBuckets`-wide TIME window —
   * a RANGE frame of `(nBuckets-1)·interval` ms on `bucket_start`, so absent
   * (empty) buckets shrink the denominator instead of silently stretching the
   * time span the way a ROWS frame would (SURVEY §2.3 #4: empty buckets are
   * omitted, and a smoothing window must respect that).
   *
   * The average is phrased as `windowSum / windowCount` over exact integer
   * sums — one double division at the end, so the result is correctly rounded
   * and engine-independent. Window input is post-aggregate: O(buckets) rows.
   */
  def movingAvg(df: DataFrame, spec: TsAggSpec, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    val w = seriesWindow(spec).rangeBetween(-(nBuckets - 1) * spec.intervalMs, 0)
    summed
      .withColumn(
        "mavg_value",
        functions.sum(col("sum_value")).over(w).cast("double") /
          functions.count(lit(1)).over(w))
      .orderBy((spec.seriesCols :+ "bucket_start").map(col): _*)
  }

  /**
   * Exponentially-decayed trailing mean over the bucket series — the
   * recency-weighted smoother (monitoring dashboards, rate limiters, drift
   * baselines) with the decay chosen so EVERY weight is an exact integer:
   * per half-interval decay 1/2, truncated at `wBuckets`, so a bucket at
   * lag j weighs `2^(wBuckets−1−j)`. The weighted sum and the weight sum
   * accumulate in decimal(38) — exact, order-independent — and the mean is
   * ONE double division at the end, so the result is bit-deterministic at
   * any partitioning and replayable in any engine (the classic float-α
   * recursive EWMA is neither: its value depends on the whole history and
   * accumulates rounding in evaluation order).
   *
   * Gap-aware like [[movingAvg]]: absent buckets contribute neither side,
   * so the mean renormalizes over the present weights (a ROWS frame would
   * silently stretch the decay horizon across gaps). Window input is
   * post-aggregate: O(buckets) rows, each carrying a ≤ `wBuckets` list.
   */
  def ewmaTrailing(df: DataFrame, spec: TsAggSpec, wBuckets: Int): DataFrame = {
    require(wBuckets >= 1 && wBuckets <= 32,
      s"wBuckets must be in [1, 32] (weights are exact 2^j longs), got $wBuckets")
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    val w = seriesWindow(spec).rangeBetween(-(wBuckets - 1) * spec.intervalMs, 0)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // 2^(w−1−lag) via the catalyst ShiftLeft (the two-Column form the DSL
    // helper lacks) — an exact long for every lag in the frame
    val weight = (p: Column) => org.apache.spark.sql.GraftBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.GraftBridge.toExpression(lit(1L)),
        org.apache.spark.sql.GraftBridge.toExpression(
          (lit(wBuckets - 1) -
            (col("bucket_start") - p.getField("bucket_start")) / spec.intervalMs)
            .cast("int"))))
    summed
      .withColumn("parts",
        collect_list(struct(col("bucket_start"), col("sum_value"))).over(w))
      .withColumn(
        "ewma_value",
        functions.aggregate(col("parts"), lit(0).cast("decimal(38,0)"),
          (acc: Column, p: Column) => acc + dec(p.getField("sum_value")) * weight(p))
          .cast("double") /
          functions.aggregate(col("parts"), lit(0L),
            (acc: Column, p: Column) => acc + weight(p))
            .cast("double"))
      .drop("parts")
      .orderBy((spec.seriesCols :+ "bucket_start").map(col): _*)
  }

  /**
   * Bucket-series anomaly flags: SUM per bucket, then flag buckets whose
   * deviation from the series mean exceeds `thresholdSigma` sample standard
   * deviations. The test is evaluated as one EXACT integer inequality —
   * `(n·x − S)²·(n−1) > t²·n·(n·S2 − S²)` with `S = Σx`, `S2 = Σx²` over
   * decimal(38) — so no float epsilon ever decides a flag and the result is
   * bit-deterministic across engines and partitionings (the same
   * integer-quantization discipline as the quality classifier's gradient
   * sums). Requires an integer-valued `valueCol` (cents-style), like every
   * hash-gated sum in this engine.
   *
   * Scale shape: the per-series (n, S, S2) statistics frame is O(series) rows
   * — broadcast back onto the bucket rows, so the corpus-sized side crosses
   * only the one aggregation exchange every bucket query pays. Buckets with
   * n < 2 (a one-bucket series has no sample variance) are never flagged.
   */
  def anomalies(df: DataFrame, spec: TsAggSpec, thresholdSigma: Int = 3): DataFrame = {
    require(thresholdSigma >= 1, s"thresholdSigma must be >= 1, got $thresholdSigma")
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    val dec = col("sum_value").cast("decimal(38,0)")
    val statAggs = Seq(
      functions.count(lit(1)).cast("decimal(38,0)").as("n_b"),
      functions.sum(dec).as("s1"),
      functions.sum(dec * dec).as("s2"))
    val stats =
      if (spec.seriesCols.isEmpty) summed.agg(statAggs.head, statAggs.tail: _*)
      else summed.groupBy(spec.seriesCols.map(col): _*).agg(statAggs.head, statAggs.tail: _*)
    val joined =
      if (spec.seriesCols.isEmpty) summed.crossJoin(functions.broadcast(stats))
      else summed.join(functions.broadcast(stats), spec.seriesCols)
    val t2 = lit(thresholdSigma.toLong * thresholdSigma).cast("decimal(38,0)")
    val dev = col("n_b") * dec - col("s1")
    joined
      .withColumn(
        "is_anomaly",
        col("n_b") >= 2 &&
          dev * dev * (col("n_b") - 1) > t2 * col("n_b") * (col("n_b") * col("s2") - col("s1") * col("s1")))
      .select((spec.seriesCols :+ "bucket_start" :+ "sum_value" :+ "is_anomaly").map(col): _*)
      .orderBy((spec.seriesCols :+ "bucket_start").map(col): _*)
  }

  /**
   * Materialize the FULL bucket spine of the spec's time range and fill the
   * empty buckets — the inverse of the engine's native sparse contract
   * (SURVEY §2.3 #4: empty buckets are naturally absent) for consumers that
   * need a dense series (charting, models, window features).
   *
   * `how`:
   *  - `"null"`   — dense spine, absent buckets carry NULL.
   *  - `"prev"`   — forward fill (last present value carries); leading gaps
   *                 stay NULL (nothing to carry).
   *  - `"linear"` — linear interpolation between the nearest present
   *                 neighbors; gaps before the first / after the last present
   *                 bucket stay NULL (no extrapolation). The interpolation is
   *                 one fixed double expression (`pv + (nv−pv)·(b−pt)/(nt−pt)`
   *                 over exact longs), so it is correctly rounded identically
   *                 in any engine that evaluates the same shape.
   *
   * Scale shape: the spine is `range(W)` with `W = (scanEnd−t0)/interval` —
   * a plan-time constant, generated distributed (no driver materialization),
   * cross-joined with the O(series) distinct-keys frame when series columns
   * are present. The fill windows run on the dense O(series·W) post-aggregate
   * frame, partitioned per series (same boundedness as [[diff]]).
   */
  def fillGaps(df: DataFrame, spec: TsAggSpec, how: String = "prev"): DataFrame = {
    require(Set("null", "prev", "linear")(how), s"how must be null|prev|linear, got '$how'")
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    val iv = spec.intervalMs
    val nBuckets = (spec.scanEndMs - spec.mode.t0Ms + iv - 1) / iv
    val spine0 = summed.sparkSession
      .range(nBuckets)
      .select((lit(spec.mode.t0Ms) + col("id") * iv).as("bucket_start"))
    val spine =
      if (spec.seriesCols.isEmpty) spine0
      else summed.select(spec.seriesCols.map(col): _*).distinct().crossJoin(spine0)
    val dense = spine.join(summed, spec.seriesCols :+ "bucket_start", "left")
    val ordered = (spec.seriesCols :+ "bucket_start").map(col)
    val past = seriesWindow(spec).rowsBetween(Window.unboundedPreceding, 0)
    val future = seriesWindow(spec).rowsBetween(0, Window.unboundedFollowing)
    val out = how match {
      case "null" => dense.withColumn("filled_value", col("sum_value"))
      case "prev" =>
        dense.withColumn(
          "filled_value", functions.last(col("sum_value"), ignoreNulls = true).over(past))
      case "linear" =>
        val presentTs = when(col("sum_value").isNotNull, col("bucket_start"))
        val pv = functions.last(col("sum_value"), ignoreNulls = true).over(past)
        val pt = functions.last(presentTs, ignoreNulls = true).over(past)
        val nv = functions.first(col("sum_value"), ignoreNulls = true).over(future)
        val nt = functions.first(presentTs, ignoreNulls = true).over(future)
        dense.withColumn(
          "filled_value",
          when(col("sum_value").isNotNull, col("sum_value").cast("double"))
            .when(
              pv.isNotNull && nv.isNotNull,
              pv.cast("double") +
                (nv - pv).cast("double") *
                ((col("bucket_start") - pt).cast("double") / (nt - pt).cast("double"))))
    }
    out.select(ordered :+ col("sum_value") :+ col("filled_value"): _*).orderBy(ordered: _*)
  }

  /**
   * Running total over the bucket series: SUM per bucket, then the cumulative
   * sum in bucket order — the counter-style view (total events served so far,
   * tokens ingested to date) a monitoring consumer derives from the same
   * sparse bucket frame every other bucket query reads. Exact BIGINT
   * end-to-end: integer bucket sums accumulate with no float ever entering,
   * so the result is bit-deterministic at any partitioning.
   *
   * Scale shape: same as [[diff]] — the running window consumes the
   * post-aggregate O(buckets) frame (never O(cells)), partitioned per series
   * when series columns are present.
   */
  def cumulative(df: DataFrame, spec: TsAggSpec): DataFrame = {
    val summed = aggregate(df, spec, Seq(functions.sum(v(spec)).as("sum_value")))
    val w = seriesWindow(spec).rowsBetween(Window.unboundedPreceding, 0)
    summed
      .withColumn("cum_value", functions.sum(col("sum_value")).over(w))
      .orderBy((spec.seriesCols :+ "bucket_start").map(col): _*)
  }

  /**
   * Collect a single-series result to the reference's client return shape,
   * `SortedMap[bucketStartMillis, value]` (`TimeseriesAggregationClient.java:129-131`).
   * API-edge only — never used inside a plan.
   */
  def toSortedMap[V](result: DataFrame): scala.collection.SortedMap[Long, V] = {
    val rows = result.collect()
    scala.collection.immutable.TreeMap.from(rows.map(r => r.getLong(0) -> r.get(1).asInstanceOf[V]))
  }
}
