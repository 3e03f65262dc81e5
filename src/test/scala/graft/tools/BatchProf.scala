package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev loop: stage-level timing of the two batch-BM25 doors at an
  * arbitrary SF dir (`sbt "Test/runMain graft.tools.BatchProf /tmp/graft-sf1"`)
  * — where does the indexed door's wall-clock actually go? */
object BatchProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .config("spark.driver.memory", "8g").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(n: String)(f: => Unit) = {
      val s = System.nanoTime(); f
      println(f"[probe] $n: ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    val docs = graft.sources.Tables.documents(spark, dir)
    val queries = docs.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3), " ")
          .as("query"))
    println("[probe] queries=" + queries.count() + " docs=" + docs.count())
    val ix = graft.sources.Fixtures.searchIndex(spark, dir)
    t("postings full count") { println("[probe] postings=" + ix.postings.count()) }
    // reconstruct the doors' matched frames to compare partitioning
    val qtTerms = queries
      .select(explode(graft.functions.TextFunctions.tokens(col("query"))).as("token"))
      .filter(col("token") =!= "").distinct()
      .collect().map(_.getString(0)).toSeq
    println("[probe] batch vocabulary=" + qtTerms.size)
    val mIdx = ix.postings
      .filter(col("token").isin(qtTerms: _*))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    val toked = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))
    val mScan = toked
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("token"))
      .filter(col("token").isin(qtTerms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    println("[probe] matched(indexed) partitions=" + mIdx.rdd.getNumPartitions +
      " rows=" + mIdx.count())
    println("[probe] matched(scan) partitions=" + mScan.rdd.getNumPartitions +
      " rows=" + mScan.count())
    println("[probe] postings inputFiles=" + ix.postings.inputFiles.length)
    t("indexed door run 1") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAllIndexed(ix, queries, k = 5).count())
    }
    graft.operators.Materialize.clear()
    t("indexed door run 2") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAllIndexed(ix, queries, k = 5).count())
    }
    graft.operators.Materialize.clear()
    t("scan door run 1") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAll(docs, queries, k = 5).count())
    }
    graft.operators.Materialize.clear()
    t("scan door run 2") {
      println("[probe] rows=" + graft.operators.Search
        .bm25TopKAll(docs, queries, k = 5).count())
    }
    spark.stop()
  }
}
