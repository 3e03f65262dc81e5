package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CountIn, MinNgramHash, Ngrams, TopCount}

/**
 * Text-analysis building blocks for large-scale corpus processing (the
 * training-data-pipeline surface layered on top of the reference's engine —
 * BASELINE.json north star). Everything is built from codegen-able built-ins
 * and the compiled token-array kernels in [[graft.functions.expressions]]
 * (top counts, n-grams, min n-gram hashes, word-set counts): no Scala UDFs,
 * so the plan stays serializable, null-safe and executor-local at any
 * scale. The per-row paths avoid Catalyst higher-order functions, whose
 * lambdas run interpreted for every element.
 *
 * Conventions shared with the DuckDB oracle (tools/oracle_check.py):
 * tokens = `split(lower(trim(text)), "\s+")`; shingles are distinct
 * space-joined 3-grams; all derived counts are exact integers.
 */
object TextFunctions {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish subword proxy: alpha runs, single digits, and punctuation marks. */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  private def kernel(e: Expression): Column = GraftBridge.toColumn(e)
  private def expr(c: Column): Expression = GraftBridge.toExpression(c)

  /** Space-joined word n-grams in document order, duplicates kept; `[]`
    * for fewer than n tokens, null for a null array. */
  def ngrams(toks: Column, n: Int): Column = kernel(Ngrams(expr(toks), n))

  /** Distinct word n-gram shingles, first occurrence first. */
  def shingles(toks: Column, n: Int): Column = array_distinct(ngrams(toks, n))

  /** Multiplicity of the most frequent element (nulls count 0); null for
    * an empty or null array. */
  def topCount(arr: Column): Column = kernel(TopCount(expr(arr)))

  /** Minimum `xxhash64` of the space-joined n-grams, computed without
    * building them; null when there are fewer than n tokens. */
  def minNgramHash(toks: Column, n: Int): Column = kernel(MinNgramHash(expr(toks), n))

  /** Number of tokens in the constant word list. */
  def countIn(toks: Column, words: Seq[String]): Column = kernel(CountIn(expr(toks), words))

  /** Full-width per-token hashes; materialize as a column before fanning out. */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /**
   * Distinct *hashed* n-gram shingles from a materialized token-hash array —
   * the allocation-free fast path for dedup pipelines: building shingle
   * strings (`concat_ws` per window position) costs ~1 ms/doc interpreted,
   * while combining precomputed token hashes through shifted-slice `zip_with`s
   * is pure long arithmetic. 64-bit combination keeps collisions negligible at
   * corpus scale (birthday bound ~n²/2⁶⁵), so intersection counts agree with
   * the string-shingle oracle.
   */
  def hashedShingles(th: Column, n: Int): Column =
    array_distinct(orderedShingleHashes(th, n))

  /** Position-preserving shingle hashes (document order, duplicates kept) —
    * the input winnowing fingerprint selection needs. */
  def orderedShingleHashes(th: Column, n: Int): Column = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    // clamped to 0 so the expression is TOTAL: documents shorter than the
    // shingle width yield an empty array instead of a negative slice length.
    // Callers do filter those docs out, but the optimizer may evaluate this
    // expression ahead of the guard (predicate pushdown merges filters, and
    // codegen CSE hoists shared subexpressions above the conjunct order), so
    // a partial expression here turns into a plan-shape-dependent crash.
    val width = greatest(size(th) - (n - 1), lit(0))
    val parts = (0 until n).map(j => slice(th, lit(j + 1), width))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => xxhash64(x, y)))
  }

  /**
   * Mersenne-prime modulus of the MinHash permutations. ANSI mode (Spark 4
   * default) makes Long overflow an error rather than a wrap, so permutations
   * `(a*x + b) mod P` keep `x < 2^31` and `a,b < P`: products stay < 2^62.
   */
  val MersenneP = 2147483647L // 2^31 - 1

  /** Deterministic permutation parameters for MinHash (seeded, plan-time). */
  def permutations(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(numHashes)((r.nextLong(MersenneP - 1) + 1, r.nextLong(MersenneP)))
  }

  /** Estimated Jaccard = fraction of equal signature positions. */
  def minhashSimilarity(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

  /**
   * Content-defined fingerprints: a whole-document hash plus the minimum
   * 3-gram shingle hash (winnowing-style witness — stable under reordering of
   * surrounding content, unlike the whole-document hash).
   */
  def docFingerprint(text: Column): Column = docHash(tokens(text))
  /** [[docFingerprint]] of an already-tokenized document. */
  def docHash(toks: Column): Column = xxhash64(concat_ws(" ", toks))
  def minShingleFingerprint(toks: Column): Column = minNgramHash(toks, 3)

  // ---- language-ID heuristic --------------------------------------------------
  // Stopword vote + CJK-codepoint presence. Tiny fixed lists so the identical
  // CASE expression is writable in the DuckDB oracle.
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val StopFr = Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans")
  val StopEs = Seq("el", "los", "las", "de", "y", "que", "en", "un", "una", "por")
  val StopDe = Seq("der", "die", "das", "und", "von", "zu", "ein", "eine", "ist", "mit")

  val CjkPattern = "[\\x{4e00}-\\x{9fff}]"

  /** Deterministic precedence on ties: zh (charset) > en > fr > es > de.
    * `toks` is `tokens(text)`, projected once by the caller. */
  def langIdExpr(text: Column, toks: Column): Column = {
    val (en, fr, es, de) = (
      countIn(toks, StopEn), countIn(toks, StopFr),
      countIn(toks, StopEs), countIn(toks, StopDe))
    when(length(regexp_replace(text, CjkPattern, "")) < length(text), "zh")
      .when(en >= fr && en >= es && en >= de, "en")
      .when(fr >= es && fr >= de, "fr")
      .when(es >= de, "es")
      .otherwise("de")
  }
}
