package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev loop: where does the pruned batch door's wall-clock go, and how many
  * rows does each phase materialize? Mirrors `Search.scoreAndCutAll`'s r17
  * shape phase-by-phase (score → cache → doc-clustered shuffle → the ONE
  * scalar fanout bounds pass → θ → survivors → the PAIR-FIRST survivor
  * fold) so the row counts quoted in SCALE.md (fanout vs r16-order fold
  * input vs pair-first fold input) are reproducible:
  * `sbt "Test/runMain graft.tools.PruneProf /tmp/graft-sf1"`. */
object PruneProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(n: String)(f: => Unit) = {
      val s = System.nanoTime(); f
      println(f"[probe] $n: ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    val k = 5
    val docs = graft.sources.Tables.documents(spark, dir)
    val queries = docs.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3), " ")
          .as("query"))
    val ix = graft.sources.Fixtures.searchIndex(spark, dir)
    val qt = queries
      .select(col("query_id"), explode(graft.functions.TextFunctions.tokens(col("query"))).as("token"))
      .filter(col("token") =!= "").distinct()
    val terms = qt.select("token").distinct().collect().map(_.getString(0)).toSeq
    println("[probe] queries=" + queries.count() + " vocabulary=" + terms.size)
    val matched0 = ix.postings
      .filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    val dft = ix.df.get.filter(col("token").isin(terms: _*))
    // score FIRST, cache, shuffle per consumer (the operator's shape)
    val scoredCached = graft.operators.Materialize.share(matched0
      .join(broadcast(dft), Seq("token"))
      .crossJoin(broadcast(ix.stats))
      .withColumn("idf_d",
        (lit(2).cast("decimal(38,0)") * (col("n_docs") - col("dft")) + 1).cast("double") /
          (lit(2).cast("decimal(38,0)") * col("dft") + 1).cast("double"))
      .withColumn("tf_d",
        (lit(44).cast("decimal(38,0)") * col("total_tokens") * col("tf")).cast("double") /
          (lit(20).cast("decimal(38,0)") * col("total_tokens") * col("tf") +
            lit(6).cast("decimal(38,0)") * col("total_tokens") +
            lit(18).cast("decimal(38,0)") * col("dl") * col("n_docs")).cast("double"))
      .withColumn("s_t", col("idf_d") * col("tf_d"))
      .select(col("doc_id"), col("token"), col("s_t")))
    def scoredBase = scoredCached
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    t("matched postings (scored + cached)") {
      println("[probe] matched=" + scoredBase.count())
    }
    def scored = scoredBase.join(broadcast(qt), Seq("token"))
    t("fanout count (the bounds-pass input volume)") {
      println("[probe] fanout=" + scored.count())
    }
    val qEps = qt.groupBy(col("query_id"))
      .agg((count(lit(1)).cast("double") * lit(1e-13)).as("eps"))
    val pairs = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s_t")).as("apx"))
      .join(broadcast(qEps), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("apx") * (lit(1.0) - col("eps"))).as("lo"),
        (col("apx") * (lit(1.0) + col("eps"))).as("hi"))
    t("bounds pass (pairs)") { println("[probe] pairs=" + pairs.count()) }
    val theta = pairs.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topKDouble(k)(col("lo"), col("doc_id")).as("tk"))
      .select(col("query_id"),
        when(size(col("tk.entries")) < k, lit(Double.NegativeInfinity))
          .otherwise(element_at(col("tk.entries"), k).getField("score")).as("theta"))
    val surv = pairs.join(broadcast(theta), Seq("query_id"))
      .filter(col("hi") >= col("theta"))
      .select(col("query_id"), col("doc_id"))
    t("survivors") { println("[probe] surv=" + surv.count()) }
    // the r16 fold order for comparison: survivor-DOC semi, then the
    // token fanout, then the pair semi — the fanout regenerates per token
    val survDocs = surv.select(col("doc_id")).distinct()
    t("fold input, r16 token-first order (regenerated per-token fanout)") {
      println("[probe] fold_input_token_first=" + scoredBase
        .join(broadcast(survDocs), Seq("doc_id"), "leftsemi")
        .join(broadcast(qt), Seq("token"))
        .join(broadcast(surv), Seq("query_id", "doc_id"), "leftsemi")
        .count())
    }
    // the r17 shipped order: pairs join on doc FIRST, (qid, token) semi
    t("fold input, r17 pair-first order (same rows, ~pairs/doc fan)") {
      println("[probe] fold_input_pair_first=" + scoredBase
        .join(broadcast(surv), Seq("doc_id"))
        .join(broadcast(qt), Seq("query_id", "token"), "leftsemi")
        .count())
    }
    t("full indexed door") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAllIndexed(ix, queries, k = k).count())
    }
    graft.operators.Materialize.clear()
    t("full indexed door (warm)") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAllIndexed(ix, queries, k = k).count())
    }
    spark.stop()
  }
}
