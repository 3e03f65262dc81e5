package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/**
 * The token-array kernels (`topCount`, `ngrams`, `minNgramHash`, `countIn`)
 * against the higher-order-function formulations they replaced. The lambda
 * forms live only here, as the reference. Every comparison runs twice: once
 * with generated code only (no silent fallback) and once interpreted.
 */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  // ---- reference formulations (the replaced lambda chains) ----------------

  private def refTopCount(arr: Column): Column =
    array_max(transform(array_distinct(arr), t => size(filter(arr, x => x === t))))

  /** The repetition-metrics bigram list, generalized to width n. */
  private def refNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** The LM gate's bigram list (`concat` of `element_at` pairs). */
  private def refLmBigrams(t: Column): Column = when(size(t) >= 2,
    transform(sequence(lit(1), size(t) - 1),
      i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
    .otherwise(array().cast("array<string>"))

  private def refMinNgramHash(toks: Column, n: Int): Column =
    when(size(toks) >= n, array_min(transform(refNgrams(toks, n), s => xxhash64(s))))

  private def refCountIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  // ---- inputs ---------------------------------------------------------------

  private val longDoc: String = {
    val r = new scala.util.Random(7)
    val vocab = Seq("the", "a", "data", "spark", "le", "de", "und", "über", "日本", "語", "😀")
    Seq.fill(2000)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  private val texts: Seq[String] = Seq(
    "", "   ", null, "one", "Word", "a a a a a a", "the cat and the hat in the hat",
    "日本 語 日本 語 テキスト 日本 語", "café naïve café 😀 😀 naïve café",
    "  leading and   trailing  ", "tab\tseparated\ttokens here", longDoc)

  /** Token arrays as the queries build them, plus arrays with null elements
    * (which no tokenizer output has, but the kernels accept). Built through
    * an RDD so the optimizer cannot fold the projection into a local relation
    * and the generated code is what runs. */
  private def arrays: DataFrame = {
    val fromText = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t, null) }
    val withNulls = Seq(
      Seq("a", null, "b", "a", null, "a"), Seq(null, null), Seq[String](null),
      Seq.empty[String], Seq("x", null, "x", null, "x", "y"), Seq("de", null, "le", "de"))
      .zipWithIndex.map { case (a, i) => Row(1000L + i, null, a) }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("raw", ArrayType(StringType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(fromText ++ withNulls, 3), schema)
      .select(col("id"),
        when(col("id") < 1000, tokens(col("text"))).otherwise(col("raw")).as("toks"))
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows of `kernel` and `reference` per id, generated code only and
    * interpreted; asserts the two agree on every row in both modes. */
  private def assertSame(what: String, kernel: Column, reference: Column): Unit = {
    def collect(): Seq[(Long, Any, Any)] =
      arrays.select(col("id"), kernel.as("k"), reference.as("r")).collect().toSeq
        .map(r => (r.getLong(0), norm(r.get(1)), norm(r.get(2)))).sortBy(_._1)
    val compiled = withConf(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(collect())
    val interpreted = withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(collect())
    assert(compiled.size == texts.size + 6)
    Seq("compiled" -> compiled, "interpreted" -> interpreted).foreach { case (mode, rs) =>
      val bad = rs.filter { case (_, k, r) => k != r }
      assert(bad.isEmpty, s"$what ($mode) differs from the lambda form: ${bad.take(3)}")
    }
    assert(compiled == interpreted, s"$what: compiled != interpreted")
  }

  private def norm(v: Any): Any = v match {
    case a: scala.collection.Seq[_] => a.toList
    case x => x
  }

  test("topCount == array_max of per-distinct filter counts (nulls count 0, empty → null)") {
    assertSame("topCount", topCount(col("toks")), refTopCount(col("toks")))
    assertSame("topCount of bigrams",
      topCount(coalesce(ngrams(col("toks"), 2), array().cast("array<string>"))),
      refTopCount(refNgrams(col("toks"), 2)))
  }

  test("ngrams == transform(sequence, concat_ws(slice)) for n in {2, 3, 5}") {
    Seq(2, 3, 5).foreach { n =>
      assertSame(s"ngrams n=$n",
        coalesce(ngrams(col("toks"), n), array().cast("array<string>")),
        refNgrams(col("toks"), n))
      assertSame(s"shingles n=$n", shingles(col("toks"), n),
        when(col("toks").isNotNull, array_distinct(refNgrams(col("toks"), n))))
    }
    // the LM gate's element_at/concat bigrams, over tokenizer output only
    // (concat would null a pair with a null element; tokens never hold one)
    assertSame("LM bigrams",
      when(col("id") < 1000, coalesce(ngrams(col("toks"), 2), array().cast("array<string>"))),
      when(col("id") < 1000, refLmBigrams(col("toks"))))
  }

  test("minNgramHash == array_min of xxhash64(concat_ws(slice)) bit for bit") {
    Seq(2, 3, 5).foreach { n =>
      assertSame(s"minNgramHash n=$n", minNgramHash(col("toks"), n),
        refMinNgramHash(col("toks"), n))
    }
    // a document of exactly n tokens has one n-gram: the kernel's value is
    // that string's xxhash64
    val one = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("日本 語 😀"), Row("café x y"), Row("a b c")), 2),
      StructType(Seq(StructField("text", StringType))))
      .select(tokens(col("text")).as("t"))
      .select(minNgramHash(col("t"), 3), xxhash64(concat_ws(" ", slice(col("t"), 1, 3))))
      .collect()
    one.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("countIn == size(filter(isin)) for each stopword list") {
    Seq(StopEn, StopFr, StopEs, StopDe).foreach { words =>
      assertSame(s"countIn ${words.head}", countIn(col("toks"), words),
        refCountIn(col("toks"), words))
    }
  }

  test("kernels reject non-string arrays at analysis") {
    val df = spark.range(1).select(array(lit(1L)).as("a"))
    Seq(topCount(col("a")), ngrams(col("a"), 2), minNgramHash(col("a"), 2),
      countIn(col("a"), StopEn)).foreach { c =>
      intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
    }
  }
}
