package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * The driver contract itself, as tests: the correctness gate silently skips
 * an oracle whose key doesn't match a registered query (it would record
 * "no_oracle" instead of failing), so key drift must fail HERE, in CI, not
 * as a quietly weaker round report.
 */
class DriverContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every oracle key names a registered query") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without a query (typo?): $orphaned")
  }

  test("registry names are distinct (a Map keeps only the last duplicate)") {
    val dupes = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dupes.isEmpty, s"names registered more than once: $dupes")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("oracle and query key sets are equal in both directions") {
    val oracles = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries.keySet
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }

  test("every oracle string is non-empty") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracle SQL: $blank")
  }

  test("entry() is the driver smoke: rows > 0 at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sketch tolerance verdicts hold at sf0.001 (every bucket within bound / contained)") {
    // the r14 oracle form of the two order-dependent sketches: the
    // registered output IS the quality contract, so a sketch drifting past
    // its bound fails here (and in the DuckDB gate) instead of only in the
    // bench artifact's quantitative block
    val dist = SparkEntry.queries("ts_distinct_approx_900")(spark, sf)
    assert(dist.columns.toSeq == Seq("bucket_start", "n_distinct", "within_bound"))
    val distBad = dist.filter(!org.apache.spark.sql.functions.col("within_bound")).count()
    assert(distBad == 0L, s"$distBad buckets outside the max(2, 15%) HLL bound")
    val trend = SparkEntry.queries("ts_trending_approx")(spark, sf)
    assert(trend.columns.toSeq == Seq("bucket_start", "user_id", "contained"))
    val trendBad = trend.filter(!org.apache.spark.sql.functions.col("contained")).count()
    assert(trendBad == 0L, s"$trendBad buckets whose exact top-1 left the sketch top-3")
  }

  test("every registered query constructs and resolves its schema at sf0.001") {
    // .schema forces analysis: unresolved columns, bad casts, or a broken
    // fixture path fail per-query here instead of mid-Verify in the driver
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).schema; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
