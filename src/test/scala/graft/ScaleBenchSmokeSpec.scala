package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs every `ScaleBench` section at the smallest size it allows, so the
  * planted-truth asserts stay compiled, run and green between scale runs. */
class ScaleBenchSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every section holds its planted truth at its minimum size; needs run first") {
    val small = ScaleBench.sections.filter(_.minRows <= 200000L).map(_.name)
    assert(Seq("ts", "series", "bm25index", "bm25lazymem").forall(small.contains))
    // bm25lazymem needs bm25index, so naming the former runs the latter first
    val ran = ScaleBench.run(spark, 200000L, small.filterNot(_ == "bm25index"), corpus = Some(sf))
    assert(ran == small)
  }

  test("an unknown name fails and lists the valid names; an unfed section fails") {
    val e = intercept[IllegalArgumentException](ScaleBench.run(spark, 200000L, Seq("bm25")))
    assert(e.getMessage.contains("unknown section(s) bm25") &&
      ScaleBench.sections.forall(s => e.getMessage.contains(s.name)), e.getMessage)
    intercept[IllegalArgumentException](ScaleBench.run(spark, 1000L, Seq("ts")))
    intercept[IllegalArgumentException](ScaleBench.run(spark, 200000L, Seq("bm25lazymem")))
  }
}
