package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/**
 * Trained quality classifier — the CCNet/GPT-3-style linear gate: logistic
 * regression over cheap per-document surface features, trained by
 * full-batch gradient descent against a labeled seed set, then applied as
 * a free map-side filter in front of expensive pipeline stages. (CCNet
 * trains fastText against Wikipedia seeds; GPT-3's quality classifier is
 * the same shape — a linear model over surface features deciding what the
 * crawl keeps. The reference engine has no learned operators at all; this
 * is part of the training-data surface layered beyond it.)
 *
 * Everything here is EXACT and engine-reproducible, which for a trained
 * model takes two deliberate choices:
 *
 *  1. The link function is the rational ("fast") sigmoid
 *     `p = 0.5 + z / (2·(1+|z|))` — not `1/(1+e^-z)`. Every operation in
 *     it (multiply, divide, add, abs) is IEEE-754 correctly-rounded and
 *     therefore BIT-IDENTICAL across engines, while `exp` is
 *     library-defined and differs in final ulps between a JVM and C libm.
 *     Same monotone S-shape, same gradient sign — a proper GLM link.
 *  2. Per-document gradient contributions are quantized to a fixed 1e-9
 *     grid and summed as INTEGERS, so the batch gradient is independent of
 *     partitioning and row order (float sums are not associative; integer
 *     sums are). The weight update then runs in doubles on O(features)
 *     values in a fixed evaluation order.
 *
 * Together: the trained weights (and every downstream score) are
 * bit-equal between this implementation and a DuckDB replay of the same
 * iteration chain — the `quality_train_lr` / `quality_filter_lr` oracle.
 *
 * Scale shape: [[featurize]] is one narrow projection of the corpus
 * (column pruning reaches the scan). Training caches that numeric frame —
 * a few doubles per doc, not the text — and each GD iteration is ONE
 * partial/final aggregate producing `features+1` longs; the driver holds
 * only the weight vector. Iterations never shuffle rows. At 100 TB you
 * point `iters × one-scan` at the cached features (or a sample — the
 * estimator is the mean gradient, so a uniform sample trains the same
 * model to sampling error), and scoring is a plan-constant dot product:
 * weights ride into the expression as literals, zero exchanges.
 */
object QualityModel {

  /** Feature names, in training order. Fixed order matters: the dot
    * product folds left in exactly this sequence in both engines. */
  val FeatureCols: Seq[String] =
    Seq("x_intercept", "x_tokens_c", "x_stopword_r", "x_punct_r", "x_charlen")

  /** The five feature expressions in [[FeatureCols]] order, over one text
    * column — shared by [[featurize]] and the inline [[scoreFromText]]
    * gate so both paths compute identical doubles. */
  private def featureExprs(textCol: Column): Seq[Column] = {
    val t = coalesce(textCol, lit(""))
    val toks = tokens(t)
    val nTok = size(toks).cast("double")
    val safeTok = greatest(nTok, lit(1.0))
    Seq(
      lit(1.0),
      nTok / lit(100.0),
      stopwordCount(toks, StopEn).cast("double") / safeTok * lit(10.0),
      length(regexp_replace(t, "[^.,!?;:]", "")).cast("double") / safeTok,
      length(t).cast("double") / safeTok / lit(10.0))
  }

  /**
   * Cheap per-document surface features, scaled to O(1) ranges so one
   * global learning rate fits: intercept, tokens/100, 10× the stopword
   * ratio, the punctuation ratio, and mean word length /10. All exact
   * integer counts ([[TextAnalysis.qualityMetrics]]'s columns) pushed
   * through correctly-rounded double divisions — engine-reproducible.
   */
  def featurize(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol) +:
      featureExprs(col(textCol)).zip(FeatureCols).map { case (e, n) => e.as(n) }: _*)

  /** The trained gate as ONE codegen'd Column over raw text — the inline
    * form a pipeline stage filters on without materializing a feature
    * frame (weights are plan constants; the whole gate is map-side). Same
    * feature expressions and left-fold dot product as the frame path. */
  def scoreFromText(textCol: Column, w: Array[Double]): Column = {
    require(w.length == FeatureCols.size,
      s"expected ${FeatureCols.size} weights, got ${w.length}")
    fastSigmoid(featureExprs(textCol).zip(w)
      .map { case (x, wj) => lit(wj) * x }
      .reduceLeft(_ + _))
  }

  /** The heuristic gate label [[TextAnalysis.qualityScore]] ≥ `tau` as
    * 1.0/0.0 — the seed signal the registered queries distill (training a
    * linear model to reproduce a hand-tuned gate from raw features is the
    * compress-the-heuristic direction; a production pipeline supplies its
    * curated seed corpus as `labels` instead). */
  def heuristicLabel(docs: DataFrame, tau: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col(idCol),
        when(col("quality_score") >= tau, 1.0).otherwise(0.0).as("y"))

  /** z = w·x folded LEFT in FeatureCols order — the evaluation-order
    * contract shared with the oracle SQL. */
  private def dot(w: Array[Double], xCols: Seq[String]): Column =
    xCols.zip(w).map { case (c, wj) => lit(wj) * col(c) }
      .reduceLeft(_ + _)

  /** The rational sigmoid 0.5 + z/(2·(1+|z|)) — see the class doc. */
  private def fastSigmoid(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /**
   * Full-batch gradient descent: `iters` rounds of
   * `w ← w − lr · mean((p − y)·x)` with the mean gradient accumulated as
   * 1e-9-quantized integers. `feats` must contain `labelCol` and every
   * `xCols` column; it is the caller's job to cache it if the text
   * projection is expensive (the registered queries do). Returns the
   * weight vector in `xCols` order.
   *
   * The per-iteration collect is ONE row of `features+1` longs — the
   * same bounded driver-side pattern as [[packSequences]]'s partition
   * totals. Integer gradient sums hold exactly to ±2^63 ≈ 9.2e18: at the
   * 1e-9 grid with O(1) features that is ~1e9 docs per batch; past that,
   * train on a sample or coarsen the grid (the grid constant is the one
   * scale knob, and the mean-gradient estimator is unbiased either way).
   */
  def trainLr(
      feats: DataFrame,
      labelCol: String = "y",
      xCols: Seq[String] = FeatureCols,
      iters: Int = 16,
      lr: Double = 4.0): Array[Double] = {
    require(iters > 0, s"iters must be positive, got $iters")
    val w = Array.fill(xCols.size)(0.0)
    for (_ <- 0 until iters) {
      val p = fastSigmoid(dot(w, xCols))
      val gradCols = xCols.zipWithIndex.map { case (c, j) =>
        // explicit round() before the integer cast: both engines round
        // half away from zero, so the quantized contribution is identical
        sum(round(((p - col(labelCol)) * col(c)) * lit(1e9))
          .cast("decimal(38,0)")).as(s"g$j")
      } :+ count(lit(1)).as("n")
      val row = feats.agg(gradCols.head, gradCols.tail: _*).head()
      // sums over zero rows come back NULL — fail with the contract, not an
      // NPE from getDecimal / a NaN weight from the 0/0 mean below
      require(row.getLong(xCols.size) > 0L,
        "trainLr needs a non-empty labeled frame (the seed-label join " +
          "produced zero rows)")
      val n = row.getLong(xCols.size).toDouble
      for (j <- w.indices) {
        val g = row.getDecimal(j).doubleValue()
        w(j) = w(j) - lr * ((g / 1e9) / n)
      }
    }
    w
  }

  /** The trained model as a tiny frame `(feature, weight)` in feature
    * order — the manifest/oracle surface for the weights. */
  def weightsDf(spark: SparkSession, w: Array[Double],
      xCols: Seq[String] = FeatureCols): DataFrame = {
    import spark.implicits._
    xCols.zip(w).toSeq.toDF("feature", "weight")
  }

  /**
   * A trained linear gate as a VERSIONED artifact — the same
   * train-once/serve-many + fingerprint-pin contract every other learned
   * state here carries ([[BpeModel.fingerprint]], the LM/quantizer
   * stores): weights plus their feature order, identified by the md5 of
   * the feature names and the IEEE-754 bit patterns of the weights (bit
   * patterns, not decimal renderings — two models score identically iff
   * every weight is bit-equal, which is exactly what the fingerprint must
   * witness). A consumer that recorded the fingerprint at train time pins
   * it at scoring time and a silently retrained gate — which would shift
   * every keep/drop decision downstream — fails loudly instead
   * (VERDICT r13 next #3).
   */
  final case class LrModel(xCols: Seq[String], weights: IndexedSeq[Double])
      extends Serializable {
    require(xCols.size == weights.size,
      s"${xCols.size} features but ${weights.size} weights")
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      xCols.zip(weights).foreach { case (c, w) =>
        md.update(c.getBytes("UTF-8")); md.update(':'.toByte)
        val bits = java.lang.Double.doubleToLongBits(w)
        var i = 7
        while (i >= 0) { md.update(((bits >>> (8 * i)) & 0xff).toByte); i -= 1 }
        md.update('\n'.toByte)
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Train the full gate from raw docs — featurize + heuristic seed label
    * + [[trainLr]], the composition the registered queries run; the
    * feature frame persists for the `iters` one-row gradient aggregates. */
  def trainLrModel(docs: DataFrame, iters: Int = 16, lr: Double = 4.0,
      tau: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): LrModel = {
    Materialize.within(featurize(docs, idCol, textCol)
        .join(heuristicLabel(docs, tau, idCol, textCol), idCol)) { feats =>
      LrModel(FeatureCols, trainLr(feats, iters = iters, lr = lr).toIndexedSeq)
    }
  }

  /** Persist the model — `(rank, feature, weight)` parquet, rank pinning
    * the feature order (order is semantic: the dot product folds left in
    * exactly this sequence). */
  def writeLrModel(m: LrModel, spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    m.xCols.zip(m.weights).zipWithIndex
      .map { case ((c, w), r) => (r, c, w) }
      .toDF("rank", "feature", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readLrModel(spark: SparkSession, path: String): LrModel = {
    val rows = spark.read.parquet(path).orderBy("rank").collect()
    LrModel(rows.map(_.getString(1)).toSeq,
      rows.map(_.getDouble(2)).toIndexedSeq)
  }

  private def checkPin(m: LrModel, expectFingerprint: Option[String]): Unit =
    expectFingerprint.foreach { fp =>
      require(fp == m.fingerprint,
        s"LR gate fingerprint mismatch: manifest pins $fp but the supplied " +
          s"model is ${m.fingerprint} — a retrained gate would silently " +
          "shift every keep/drop decision; retrain the consumer's manifest " +
          "or serve the pinned snapshot")
    }

  /** [[scoreLr]] from a persisted model, optionally pinned: scoring fails
    * loudly when the store was retrained under the caller. */
  def scoreLrModel(feats: DataFrame, m: LrModel,
      expectFingerprint: Option[String] = None,
      idCol: String = "doc_id"): DataFrame = {
    checkPin(m, expectFingerprint)
    scoreLr(feats, m.weights.toArray, m.xCols, idCol)
  }

  /** [[scoreFromText]] from a persisted model, same pin contract. */
  def scoreFromTextModel(textCol: Column, m: LrModel,
      expectFingerprint: Option[String] = None): Column = {
    checkPin(m, expectFingerprint)
    require(m.xCols == FeatureCols,
      s"scoreFromText serves the built-in feature set $FeatureCols, " +
        s"got ${m.xCols}")
    scoreFromText(textCol, m.weights.toArray)
  }

  /** Score with a trained model: `(idCol, score, keep)` — weights enter
    * the plan as literals (zero exchanges, codegen'd dot product). */
  def scoreLr(
      feats: DataFrame,
      w: Array[Double],
      xCols: Seq[String] = FeatureCols,
      idCol: String = "doc_id"): DataFrame =
    feats.select(
      col(idCol),
      fastSigmoid(dot(w, xCols)).as("score"))
      .withColumn("keep", col("score") >= 0.5)
}
