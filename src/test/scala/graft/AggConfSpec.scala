package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AggConf, TopK}

/**
 * The library-level udaf hash-aggregate headroom (r21, VERDICT r20 next #3):
 * the r20 raise of `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
 * lived only in the four harness mains, so a consumer building its own
 * SparkSession silently lost the measured ~2× on typed-UDAF passes. Now every
 * typed-UDAF Column factory applies it SET-IF-UNSET — these tests observe the
 * conf through a BARE session (no harness conf), and pin that an explicit
 * session value is never overridden.
 */
class AggConfSpec extends AnyFunSuite {

  /** Fresh session on the shared context, no graft confs applied — the
    * bare-consumer deployment shape (same pattern as ExtensionsSpec). */
  private def withBareSession[A](extraConf: Map[String, String] = Map.empty)(
      f: SparkSession => A): A = {
    val base = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    try f(s)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("a bare session observes the udaf headroom after building a TopK door") {
    withBareSession() { s =>
      // a NEW session starts with the conf unset (registered default 128)
      assert(!s.sessionState.conf.contains(AggConf.FallbackThresholdKey))
      import s.implicits._
      val df = Seq((1L, 2.0), (1L, 3.0), (2L, 1.0)).toDF("g", "v")
      val out = df.groupBy(col("g"))
        .agg(TopK.topKDouble(1)(col("v"), col("g")).as("tk"))
      assert(out.count() == 2)
      assert(s.conf.get(AggConf.FallbackThresholdKey)
        == AggConf.FallbackThreshold.toString)
    }
  }

  test("an explicitly-set session value is never overridden") {
    withBareSession(Map(AggConf.FallbackThresholdKey -> "256")) { s =>
      import s.implicits._
      val df = Seq((1L, 2.0), (2L, 1.0)).toDF("g", "v")
      df.groupBy(col("g"))
        .agg(TopK.topKDouble(1)(col("v"), col("g")).as("tk"))
        .count(): Unit
      assert(s.conf.get(AggConf.FallbackThresholdKey) == "256")
    }
  }

  test("bottomKString and SpaceSaving factories apply the same ensure") {
    withBareSession() { s =>
      import s.implicits._
      val df = Seq(("a", 1L), ("b", 2L)).toDF("h", "id")
      df.agg(TopK.bottomKString(1)(col("h"), col("id")).as("bk")).count(): Unit
      assert(s.conf.get(AggConf.FallbackThresholdKey)
        == AggConf.FallbackThreshold.toString)
    }
    withBareSession() { s =>
      import s.implicits._
      val df = Seq((1L, 1L), (2L, 2L)).toDF("id", "w")
      df.agg(graft.functions.SpaceSaving.topKByWeight(1, 4)(col("id"), col("w"))
        .as("tk")).count(): Unit
      assert(s.conf.get(AggConf.FallbackThresholdKey)
        == AggConf.FallbackThreshold.toString)
    }
  }

  test("a door writes the session that executes it, not the thread-active one") {
    withBareSession() { active =>
      // `active` stays the thread-active session while the doors below build
      // over frames of `other`, a second session on the same context
      val other = active.newSession()
      assert(!other.sessionState.conf.contains(AggConf.FallbackThresholdKey))
      import other.implicits._
      val docs = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "fr", "c"))
        .toDF("doc_id", "lang", "text")
      val picked = graft.operators.TrainingSet.quotaSample(docs, quota = 1)
      assert(SparkSession.getActiveSession.contains(active))
      assert(other.conf.get(AggConf.FallbackThresholdKey)
        == AggConf.FallbackThreshold.toString)
      assert(picked.count() == 2)
    }
    withBareSession() { active =>
      val other = active.newSession()
      graft.functions.Aggregators.registerAll(other)
      assert(other.conf.get(AggConf.FallbackThresholdKey)
        == AggConf.FallbackThreshold.toString)
    }
  }
}
