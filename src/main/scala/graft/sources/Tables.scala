package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.functions.expressions.ParamLiteral

/**
 * Centralized Parquet source layer (SURVEY §2.1 S1: the reference's only source
 * is an HBase region scan; ours is columnar Parquet, where partition-parallel
 * scanning, predicate pushdown, and column pruning come from the file source).
 *
 * HBase connector seam: against a live cluster these readers would be the one
 * place to swap `spark.read.parquet` for an HBase DataSource (e.g. the
 * `hbase-connectors` Spark module or a TableSnapshotInputFormat scan of HFiles)
 * producing the same (key: binary, qualifier: binary, ts, value: binary)
 * columns — everything downstream ([[graft.functions.RowKeys]] mask extraction,
 * [[graft.functions.Decoders]] value interpreters, TsAgg plans) is agnostic to
 * which source produced the DataFrame. This sandbox has no HBase, so
 * [[Fixtures.keyedEvents]] materializes that exact cell layout from the
 * driver's Parquet testdata instead (FIXTURES.md).
 *
 * Normalization handled here so every operator sees one canonical schema:
 *  - `TIMESTAMP(NANOS)` parquet columns (events.ts) are unsupported by Spark 4's
 *    vectorized reader; we read them as raw Long nanos via the legacy conf and
 *    convert to TimestampType (µs precision) — the same floor DuckDB's
 *    `epoch_ms` sees.
 *  - TimestampNTZ columns are cast to TimestampType; sessions are pinned UTC so
 *    the instant is unchanged.
 *
 * Schema reuse: `spark.read.parquet` without a schema runs a Spark job to
 * infer it from a footer, on every call. The readers here infer it once and
 * then read with `spark.read.schema(inferred)`, so building a frame runs no
 * job. The cached schema is keyed by the qualified path, the driver-side
 * listing of its files (name, length, modification time) and the session's
 * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` values, which shape
 * inference; a change to any of them infers again.
 */
object Tables {

  /** What an inferred schema depends on: see the object's scaladoc. */
  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  /** Schemas kept at most; the least recently used is dropped past it. */
  private val SchemaCacheSize = 64

  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size() > SchemaCacheSize
  }

  /** `spark.read.parquet(path)`, with the schema inferred once per [[SchemaKey]]. */
  private def readParquet(s: SparkSession, path: String): DataFrame = {
    // Dynamic SQL conf — set defensively so the driver's own session works too.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) s.read.parquet(path) // fails as Spark reports a missing path
    else {
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(qualified, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val confs = s.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      val key = SchemaKey(qualified.toString, files.result().sorted, confs)
      schemas.synchronized(Option(schemas.get(key))) match {
        case Some(schema) => s.read.schema(schema).parquet(path)
        case None =>
          val inferred = s.read.parquet(path)
          schemas.synchronized(schemas.put(key, inferred.schema))
          inferred
      }
    }
  }

  /** TimestampNTZ columns cast to TimestampType (the instant is unchanged in
    * a UTC session). */
  private def ntzToLtz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (out, f) =>
      f.dataType match {
        case TimestampNTZType => out.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => out
      }
    }

  private def readNormalized(s: SparkSession, path: String): DataFrame = ntzToLtz(readParquet(s, path))

  /** `events`: ts arrives as Long nanos under nanosAsLong — convert to TimestampType. */
  def events(s: SparkSession, dir: String): DataFrame = events(s, dir, None)

  /**
   * `events` with an optional epoch-millis scan range `[t0, end)`.
   *
   * The range predicate is applied to the RAW parquet column *before* the
   * ns→µs (or NTZ→LTZ) conversion: a filter phrased on the converted
   * expression (`unix_millis(timestamp_micros(ts div 1000)) >= t0`) never
   * reaches the scan (`PushedFilters: [IsNotNull(ts)]` only), which at 100 TB
   * forfeits all row-group/min-max pruning. On the raw column the bound is
   * exact (see [[within]]) and shows up in `PushedFilters`, so Parquet skips
   * every row group outside the window before decoding a single page.
   */
  def events(s: SparkSession, dir: String, boundsMs: Option[(Long, Long)]): DataFrame = {
    val raw = readParquet(s, s"$dir/events.parquet")
    val bounded = boundsMs.fold(raw) { case (t0, end) => raw.filter(within(raw, "ts", t0, end)) }
    val micros = bounded.schema("ts").dataType match {
      case LongType => bounded.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))) // nanos-as-long
      case _ => bounded
    }
    ntzToLtz(micros)
  }

  /**
   * Raw column `name` of `df` within the epoch-millis range `[t0, end)`: a
   * Long of nanos (nanosAsLong) or a timestamp of micros. The bounds are
   * [[ParamLiteral]]s, so reads over different ranges share one compiled
   * class, and Parquet still prunes on them. They are exact over the whole
   * Long range: a bound past it holds every stored value or none, so it
   * saturates at the Long limit and its comparison turns inclusive (every
   * value) or strict (none) there.
   */
  private def within(df: DataFrame, name: String, t0Ms: Long, endMs: Long): Column = {
    val c = col(name)
    val t = df.schema(name).dataType
    val unitsPerMs = t match {
      case LongType => 1000000L
      case TimestampType | TimestampNTZType => 1000L
      case other => throw new IllegalArgumentException(
        s"$name must be Long nanos or a timestamp to take a time range, got $other")
    }
    val lo = BigInt(t0Ms) * unitsPerMs
    val end = BigInt(endMs) * unitsPerMs
    def param(v: BigInt) = ParamLiteral(v.max(Long.MinValue).min(Long.MaxValue).toLong, t)
    val lower = if (lo > Long.MaxValue) c > param(lo) else c >= param(lo)
    val upper = if (end > Long.MaxValue) c <= param(end) else c < param(end)
    lower && upper
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/lineitem.parquet")

  /** `lineitem` with an epoch-millis ship-date range pushed down on the raw
    * NTZ column (a filter on the post-cast LTZ column would not prune). */
  def lineitemShipRange(s: SparkSession, dir: String, t0Ms: Long, endMs: Long): DataFrame = {
    val raw = readParquet(s, s"$dir/lineitem.parquet")
    ntzToLtz(raw.filter(within(raw, "l_shipdate", t0Ms, endMs)))
  }
  def orders(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/orders.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/part.parquet")
  def nation(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/nation.parquet")
  def region(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/region.parquet")
  def documents(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = readNormalized(s, s"$dir/embeddings.parquet")
}
