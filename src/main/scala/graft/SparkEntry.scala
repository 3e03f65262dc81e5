package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.{DedupQueries, PipelineQueries, Query, SearchQueries, TextQueries, TimeSeriesQueries}

/**
 * Driver contract (SURVEY.md §7): the registered queries and their DuckDB
 * oracles.
 *
 * Every query is one operator from SURVEY §2 (or a beyond-reference scale op)
 * run over the driver's Parquet testdata, and its record in `graft.registry`
 * carries the DuckDB-equivalent SQL beside the build. Column names and
 * arithmetic are kept byte-identical between the two (FIXTURES.md §3): bucket
 * math is exact integer epoch-millis on both sides, and double-valued
 * aggregations run on exact integer cents so partial-aggregation order can
 * never produce a floating-point hash mismatch — the property that also makes
 * the results reproducible run-to-run on a real cluster, where partition
 * order is nondeterministic.
 */
object SparkEntry {
  /** Every registered query, one record each, grouped by family. */
  val registry: Seq[Query] = TimeSeriesQueries.all ++ TextQueries.all ++
    DedupQueries.all ++ SearchQueries.all ++ PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ts_avg_900")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Each query's oracle: SQL DuckDB runs on the same Parquet tables. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
