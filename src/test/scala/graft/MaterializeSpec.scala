package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Search}

/** Release contract of the operators' intermediate frames: everything an
  * operator persists or checkpoints is freed by `Dedup.clearCaches()`, and
  * no library source holds a frame any other way than through
  * `graft.operators.Materialize`. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def persistentIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clearCaches frees the K>1 batch-BM25 doors' checkpoints, sequential and concurrent") {
    val docs = ((1L to 40L).map(i => (i, "alpha beta gamma")) ++
      (41L to 60L).map(i => (i, s"alpha tok$i")))
      .toDF("doc_id", "text").repartition(3)
    val qs = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "tok44"), (4L, "beta"))
      .toDF("query_id", "query")
    for (concurrent <- Seq(false, true)) {
      Dedup.clearCaches()
      val before = persistentIds()
      val rows = Search.bm25TopKAllSharded(docs, qs, k = 3, shards = 3,
        concurrent = concurrent).collect()
      assert(rows.nonEmpty)
      assert((persistentIds() -- before).nonEmpty,
        s"concurrent=$concurrent: the door should hold its scored cut until cleared")
      Dedup.clearCaches()
      val left = persistentIds() -- before
      assert(left.isEmpty,
        s"concurrent=$concurrent: clearCaches left ${left.size} RDDs the door created: " +
          left.map(spark.sparkContext.getPersistentRDDs(_).toDebugString.linesIterator.next())
            .mkString("; "))
    }
  }

  test("nearDupClusters' distributed loop keeps only the final round's checkpoint") {
    // a 10-node chain needs ~10 min-label rounds; each round is a lazy cut
    val n = 10L
    val docsDf = (0L until n).toDF("doc_id")
    val pairsDf = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.clearCaches()
    val before = persistentIds()
    val got = Dedup.nearDupClusters(docsDf, pairsDf, driverMaxEdges = 0L).collect()
    assert(got.length == n && got.forall(_.getLong(1) == 0L))
    // the pair and edge shares plus one labels checkpoint — not one per round
    val held = persistentIds() -- before
    assert(held.size <= 3, s"expected <= 3 held RDDs (2 shares + final labels), got ${held.size}")
    Dedup.clearCaches()
    assert((persistentIds() -- before).isEmpty, "clearCaches must free the final labels too")
  }

  test("operator sources hold frames only through Materialize") {
    // one mechanism: a persist, unpersist or checkpoint call anywhere else
    // in the library, its mains included, is a frame with its own release
    // rule
    val call = """\.(persist|unpersist|localCheckpoint|checkpoint)\(""".r
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: $root")
    val walk = java.nio.file.Files.walk(root.toPath)
    val sources =
      try walk.iterator.asScala.map(_.toFile).filter(_.getName.endsWith(".scala")).toSeq
      finally walk.close()
    val offenders = for {
      f <- sources.sortBy(_.getPath)
      if f.getName != "Materialize.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
      code = line.replaceAll("//.*$", "").trim
      if !(code.startsWith("*") || code.startsWith("/*"))
      if call.findFirstIn(code).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"route these through graft.operators.Materialize:\n${offenders.mkString("\n")}")
  }
}
