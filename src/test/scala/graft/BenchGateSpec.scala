package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.Gate

class BenchGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val baseline = BenchGate.Baseline(
    medians = Map("q_fast" -> 0.2, "q_slow" -> 2.0, "q_replanned" -> 1.0,
      "q_retired" -> 0.5),
    plans = Map("q_fast" -> "fpA", "q_slow" -> "fpB", "q_replanned" -> "fpC",
      "q_retired" -> "fpD"))

  test("a synthetic >1.5× slowdown at an unchanged plan FIRES the gate") {
    val r = BenchGate.regressions(
      medians = Map("q_fast" -> 0.21, "q_slow" -> 3.5),
      plans = Map("q_fast" -> "fpA", "q_slow" -> "fpB"),
      baseline)
    assert(r.map(_.name) == Seq("q_slow"))
    assert(math.abs(r.head.ratio - 1.75) < 1e-9)
    assert(r.head.baselineMedian == 2.0 && r.head.median == 3.5)
  }

  test("a changed plan fingerprint SUPPRESSES the comparison; new queries never flag") {
    val r = BenchGate.regressions(
      medians = Map("q_replanned" -> 10.0, "q_new" -> 99.0),
      plans = Map("q_replanned" -> "fpC-CHANGED", "q_new" -> "fpN"),
      baseline)
    assert(r.isEmpty, "the new plan owns its cost; a new query has no baseline")
  }

  test("exactly-at-threshold does not fire; just past it does") {
    def run(m: Double) = BenchGate.regressions(
      Map("q_slow" -> m), Map("q_slow" -> "fpB"), baseline)
    assert(run(3.0).isEmpty, "1.5× exactly is the boundary, not a regression")
    assert(run(3.0000001).nonEmpty)
  }

  test("absolute-delta floor: a 2× ratio at +40 ms stays quiet; at +400 ms it fires") {
    // r16 (VERDICT r15 wrong #2): two consecutive rounds adjudicated a
    // sub-0.3 s micro-query flag as scheduler noise (corpus_mix_cube r14,
    // asof_join_tolerance r15 — +78 ms at spread 1.94, code untouched).
    // The gate now requires the regression to be big in seconds, not just
    // in ratio: ratio > 1.5 AND delta > 0.15 s.
    val micro = BenchGate.Baseline(
      medians = Map("q_micro" -> 0.04, "q_real" -> 0.4),
      plans = Map("q_micro" -> "fpM", "q_real" -> "fpR"))
    val quiet = BenchGate.regressions(
      medians = Map("q_micro" -> 0.08), // 2.0× but +40 ms — jitter territory
      plans = Map("q_micro" -> "fpM"), micro)
    assert(quiet.isEmpty, "+40 ms on a 40 ms query is noise, not a regression")
    val fired = BenchGate.regressions(
      medians = Map("q_real" -> 0.8), // 2.0× AND +400 ms — a real slowdown
      plans = Map("q_real" -> "fpR"), micro)
    assert(fired.map(_.name) == Seq("q_real"))
    // the floor is exclusive: exactly +0.15 s does not fire
    val boundary = BenchGate.Baseline(
      medians = Map("q" -> 0.1), plans = Map("q" -> "fp"))
    assert(BenchGate.regressions(Map("q" -> 0.25), Map("q" -> "fp"), boundary).isEmpty)
    assert(BenchGate.regressions(Map("q" -> 0.2501), Map("q" -> "fp"), boundary).nonEmpty)
  }

  test("sfToken normalizes mount roots and trailing slashes (the cross-SF guard's identity)") {
    // ADVICE r15: raw-string comparison disabled the gate forever when the
    // same-scale data moved or gained a trailing slash
    assert(BenchGate.sfToken("/root/testdata/sf0.1") == "sf0.1")
    assert(BenchGate.sfToken("/root/testdata/sf0.1/") == "sf0.1")
    assert(BenchGate.sfToken("/mnt/other/sf0.1") == "sf0.1")
    assert(BenchGate.sfToken("sf0.1") == "sf0.1")
    assert(BenchGate.sfToken("/a/sf1") != BenchGate.sfToken("/a/sf0.1"))
    intercept[IllegalArgumentException](BenchGate.sfToken("/"))
  }

  test("baseline TSV round-trips (with and without the sf header); absent file reads None") {
    val tmp = java.nio.file.Files.createTempDirectory("benchgate").toString
    val medians = Map("a" -> 0.123456, "b" -> 12.5)
    val plans = Map("a" -> "fp1", "b" -> "fp2", "orphan" -> "fp3")
    BenchGate.writeBaseline(s"$tmp/b.tsv", medians, plans)
    val back = BenchGate.readBaseline(s"$tmp/b.tsv").get
    // only names with BOTH a median and a plan are written
    assert(back.medians.keySet == Set("a", "b"))
    assert(math.abs(back.medians("a") - 0.123456) < 1e-9)
    assert(back.plans == Map("a" -> "fp1", "b" -> "fp2"))
    assert(back.sf.isEmpty, "no sf header written -> none read (pre-r15 files)")
    assert(BenchGate.readBaseline(s"$tmp/missing.tsv").isEmpty)
    // the sf header rides a comment line: data rows parse identically, and
    // the recorded scale factor comes back (Bench skips the gate when the
    // current run's sfDir differs — cross-SF medians are not comparable)
    BenchGate.writeBaseline(s"$tmp/c.tsv", medians, plans, sf = Some("/data/sf0.1"))
    val withSf = BenchGate.readBaseline(s"$tmp/c.tsv").get
    assert(withSf.sf.contains("/data/sf0.1"))
    assert(withSf.medians == back.medians && withSf.plans == back.plans)
  }

  test("planFingerprint is stable across identical plans, differs across shapes") {
    // parquet-backed frames (a LocalRelation constant-folds to a dataless
    // string, which can neither witness stability nor a predicate change)
    def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def q(minId: Long) = docs
      .filter(org.apache.spark.sql.functions.col("doc_id") > minId)
      .groupBy("lang").count()
    // fresh frames allocate fresh expression ids — normalization must
    // erase them, or every run of the same code would read as a replan
    assert(BenchGate.planFingerprint(q(0)) == BenchGate.planFingerprint(q(0)))
    assert(BenchGate.planFingerprint(q(0)) != BenchGate.planFingerprint(q(1)),
      "a real predicate change must change the fingerprint")
    // a registered query fingerprints identically across invocations (the
    // gate's actual use: same code + registry => same fingerprint)
    val r1 = BenchGate.planFingerprint(
      SparkEntry.queries("ts_sum_900")(spark, "/root/testdata/sf0.001"))
    val r2 = BenchGate.planFingerprint(
      SparkEntry.queries("ts_sum_900")(spark, "/root/testdata/sf0.001"))
    assert(r1 == r2)
  }

  test("planFingerprint erases JVM object identities and lambda class numbers") {
    // plans print objects without a toString by identity; two runs of the
    // same code print different hashes and lambda class numbers
    def q(tokens: String*) = spark.range(3)
      .select(tokens.zipWithIndex.map { case (t, i) =>
        org.apache.spark.sql.functions.lit(t).as(s"c$i") }: _*)
    val a = q("[D@6554f841", "[J@1b2c3d4e", "Multimodal$$$Lambda$3909/0x00000008012a4c40@5f1d2a3b",
      "WeightedAvgAggregator$@7e2d1f0a")
    val b = q("[D@13c9a0f", "[J@77aa31bc", "Multimodal$$$Lambda$4121/0x0000000801b3d878@2e8ab815",
      "WeightedAvgAggregator$@41f6e0d2")
    assert(BenchGate.planFingerprint(a) == BenchGate.planFingerprint(b))
    assert(BenchGate.planFingerprint(a) != BenchGate.planFingerprint(q("[D@6554f841")),
      "the plan's shape still counts")
  }

  test("a registered query with array literals fingerprints identically when built twice") {
    def fp = BenchGate.planFingerprint(
      SparkEntry.queries("ann_topk_cosine_ivfpq")(spark, "/root/testdata/sf0.001"))
    assert(fp == fp)
  }

  test("the baseline header records cores; an absent count reads as unknown") {
    val tmp = java.nio.file.Files.createTempDirectory("benchgate").toString
    val medians = Map("a" -> 0.5)
    val plans = Map("a" -> "fp1")
    BenchGate.writeBaseline(s"$tmp/c.tsv", medians, plans, sf = Some("/data/sf0.1"), cores = Some(4))
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$tmp/c.tsv")).get(0) ==
      "# sf=/data/sf0.1 cores=4")
    val back = BenchGate.readBaseline(s"$tmp/c.tsv").get
    assert(back.sf.contains("/data/sf0.1") && back.cores.contains(4))
    assert(back.medians == medians && back.plans == plans)
    BenchGate.writeBaseline(s"$tmp/n.tsv", medians, plans, cores = Some(32))
    assert(BenchGate.readBaseline(s"$tmp/n.tsv").get.cores.contains(32))
    // a baseline written before the count was recorded
    BenchGate.writeBaseline(s"$tmp/o.tsv", medians, plans, sf = Some("/data/sf0.1"))
    val old = BenchGate.readBaseline(s"$tmp/o.tsv").get
    assert(old.sf.contains("/data/sf0.1") && old.cores.isEmpty)
  }

  test("a gate whose measure throws marks its query failed and writes the error") {
    val broken = Gate("sketch", "q_broken", needs = Nil, Seq(Gate.Field("max_rel_err", 4)),
      Gate.AtMost(0.15), (_, _) => throw new IllegalStateException("no \"buckets\"\nleft"))
    val o = Gate.evaluate(broken, spark, "/nonexistent")
    assert(o.failed, "a broken gate must read red, never absent or green")
    assert(o.json == """{"error":"no  buckets  left"}""")
  }

  test("a gate renders its fields and holds its first field to the bound") {
    def gate(vs: Seq[Double], fields: Seq[Gate.Field], bound: Gate.Bound) =
      Gate.evaluate(Gate("sketch", "q", Nil, fields, bound, (_, _) => vs), spark, "")
    val two = Seq(Gate.Field("top1_containment", 3), Gate.Field("max_err_ratio", 4))
    assert(gate(Seq(0.95, 0.5), two, Gate.AtLeast(0.95)) ==
      Gate.Outcome("""{"top1_containment":0.950,"max_err_ratio":0.5000}""", failed = false))
    assert(gate(Seq(0.94, 0.0), two, Gate.AtLeast(0.95)).failed)
    // a single unnamed field is written bare, as the recall map holds it
    assert(gate(Seq(0.875), Seq(Gate.Field("", 3)), Gate.AtLeast(0.9)) ==
      Gate.Outcome("0.875", failed = true))
    assert(!gate(Seq(0.0), Seq(Gate.Field("x", 4)), Gate.AtMost(0.0)).failed)
    assert(gate(Seq(1e-9), Seq(Gate.Field("x", 4)), Gate.AtMost(0.0)).failed)
  }
}
