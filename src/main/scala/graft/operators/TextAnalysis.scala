package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/**
 * Corpus-level text analysis over a documents table — language ID, quality
 * scoring, token counting, fingerprinting. All per-document map-side work
 * (narrow transformations, zero shuffles), so throughput scales linearly with
 * executors at 100 TB: each operator is a pure projection the Parquet reader
 * can pipeline, and column pruning reaches the scan (only `doc_id`/`text` read).
 */
object TextAnalysis {

  /** Token counts: whitespace tokens + BPE-ish subword proxy count. */
  def tokenCounts(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(
      col(idCol),
      // counts cast to long: DuckDB len()/count() are BIGINT, and the oracle
      // gate compares schemas
      size(tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      bpeTokenCount(col(textCol)).cast("long").as("n_bpe_tokens"))

  /**
   * Quality metrics as exact integer components (ratios are one deterministic
   * division away; kept out of the hash-compared surface on purpose).
   */
  def qualityMetrics(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = col("__toks")
    withTokens(df, idCol, textCol).select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(t, "[^.,!?;:]", "")).cast("long").as("n_punct"),
      length(regexp_replace(t, "[^0-9]", "")).cast("long").as("n_digits"),
      length(regexp_replace(t, "[^A-Z]", "")).cast("long").as("n_upper"),
      countIn(toks, StopEn).cast("long").as("n_stopwords"))
  }

  /** `(idCol, textCol, __toks)`: the text tokenized once, so every feature
    * derives from one `tokens(text)` per row. */
  private def withTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol), tokens(col(textCol)).as("__toks"))

  /** Derived quality score in [0,1] (not oracle-compared: float by design). */
  def qualityScore(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val m = qualityMetrics(df, idCol, textCol)
    val nTok = col("n_tokens").cast("double")
    m.withColumn(
      "quality_score",
      least(lit(1.0), greatest(lit(0.0),
        lit(0.4) * least(lit(1.0), nTok / lit(50.0)) // enough content
          + lit(0.3) * (lit(1.0) - least(lit(1.0), col("n_punct") / greatest(nTok, lit(1.0)))) // not punct soup
          + lit(0.3) * least(lit(1.0), col("n_stopwords") * lit(8.0) / greatest(nTok, lit(1.0))) // natural language
      )))
  }

  /** Heuristic language ID (n-gram/stopword votes; see TextFunctions.langIdExpr). */
  def languageId(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withTokens(df, idCol, textCol)
      .select(col(idCol), langIdExpr(col(textCol), col("__toks")).as("pred_lang"))

  /** Document fingerprints: whole-doc hash + min-shingle witness (winnowing-style). */
  def fingerprints(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    withTokens(df, idCol, textCol)
      .filter(size(toks) >= 3)
      .select(
        col(idCol),
        docHash(toks).as("doc_hash"),
        minShingleFingerprint(toks).as("min_shingle_hash"))
  }

  /**
   * Full winnowing fingerprints (the MOSS rolling-hash scheme): ordered
   * k-gram hashes → windowed-minimum selection
   * ([[graft.functions.expressions.WinnowFingerprints]]). Any shared run of
   * ≥ `window + k − 1` tokens between two documents is guaranteed to share a
   * fingerprint, at ~2/(window+1) selection density — the plagiarism /
   * near-dup-span detection primitive. Map-side only, zero shuffles.
   */
  def winnowing(
      df: DataFrame, k: Int = 3, window: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowFps(df, k, window, idCol, textCol)
      .select(
        col(idCol),
        size(col("fps")).cast("long").as("n_fp"),
        // rendered as a CSV string so golden files are engine-representation-
        // independent (array toString differs across collection impls)
        concat_ws(",", transform(col("fps"), _.cast("string"))).as("fingerprints"))

  /** Raw winnowing fingerprint arrays `(idCol, fps: array<long>)` — the
    * composable form [[graft.operators.Dedup.spanNearDup]] joins on. */
  def winnowFps(
      df: DataFrame, k: Int = 3, window: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    df.filter(size(toks) >= k)
      // token hashes materialized as a column BEFORE the k-way shingle fan-out
      // (orderedShingleHashes slices the array k times; an inline expression
      // would tokenize + hash every document k times — HOFs are excluded from
      // subexpression elimination)
      .select(col(idCol), tokenHashes(toks).as("th"))
      .select(
        col(idCol),
        graft.functions.expressions.WinnowFingerprints(
          orderedShingleHashes(col("th"), k), window).as("fps"))
  }

  /**
   * Corpus data card — the per-language summary published alongside a
   * training corpus: doc count, token totals, and the min/p50/p90/p99/max of
   * document length in tokens. All-integer output, so the DuckDB oracle is
   * hash-exact.
   *
   * Percentiles are EXACT yet scale-safe: the corpus passes through one
   * partial/final hash aggregate onto the bounded `(lang, n_tokens)` domain
   * (distinct doc lengths — thousands of values, whatever the corpus size),
   * and the rank scan runs over those tiny grouped rows. The p-th
   * percentile is the smallest length whose cumulative count reaches
   * `ceil(n_docs·p/100)`, tested in pure integers as
   * `100·cum ≥ n_docs·p` — no float interpolation to diverge between
   * engines. The one window function is over O(distinct lengths per lang)
   * rows, never corpus rows.
   */
  def corpusReport(
      df: DataFrame,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .groupBy(col(langCol).as("lang"),
        size(tokens(coalesce(col(textCol), lit("")))).cast("long").as("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy("lang")
    val cum = counts
      .withColumn("cum", sum("cnt").over(byLang.orderBy("n_tokens")))
      .withColumn("n_docs", sum("cnt").over(byLang))
    def pct(p: Int) =
      min(when(col("cum") * 100 >= col("n_docs") * p, col("n_tokens")))
        .as(s"p${p}_tokens")
    cum.groupBy("lang")
      .agg(
        max("n_docs").as("n_docs"), // constant within the group
        sum(col("n_tokens") * col("cnt")).as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        pct(50), pct(90), pct(99),
        max("n_tokens").as("max_tokens"))
  }
}
