package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TimeMode, TsAggSpec}

/**
 * ScalaCheck invariants for the bucketing arithmetic — the properties the
 * reference only pins by example (SURVEY §5 recommendation, §7.5 risk #1).
 * These run on the pure Scala model (`TsAggSpec.bucketStartOf`/`scanEndMs`),
 * which the golden specs have already tied to the distributed expression.
 */
class BucketPropertySpec extends AnyFunSuite {

  private val genT0 = Gen.choose(0L, 4102444800000L) // epoch .. year 2100
  private val genIv = Gen.oneOf(1L, 36L, 900L, 3600L, 28800L, 86400L)
  private val genSpan = Gen.choose(1L, 30L * 86400000L)
  private val genOffset = Gen.choose(0L, 40L * 86400000L)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(1000).withInitialSeed(42L), p)
    assert(res.passed, res.status.toString)
  }

  test("every in-range timestamp lands in exactly one t0-aligned bucket") {
    check(Prop.forAll(genT0, genIv, genSpan, genOffset) { (t0, ivSec, span, off) =>
      val spec = TsAggSpec(ivSec, TimeMode.CellTs(t0, t0 + span))
      val ts = t0 + (off % span)
      val b = spec.bucketStartOf(ts)
      (b <= ts && ts < b + spec.intervalMs) && // containment
        ((b - t0) % spec.intervalMs == 0) &&   // alignment to t0, not epoch
        (b >= t0)
    })
  }

  test("bucket assignment is stable across the whole bucket and flips at edges") {
    check(Prop.forAll(genT0, genIv, Gen.choose(0L, 999L)) { (t0, ivSec, k) =>
      val spec = TsAggSpec(ivSec, TimeMode.CellTs(t0, t0 + 40L * 86400000L))
      val iv = spec.intervalMs
      val bucketStart = t0 + k * iv
      spec.bucketStartOf(bucketStart) == bucketStart &&
        spec.bucketStartOf(bucketStart + iv - 1) == bucketStart &&
        spec.bucketStartOf(bucketStart + iv) == bucketStart + iv
    })
  }

  test("key mode scans exactly one interval past the bucket containing t1; cell mode cuts at t1") {
    check(Prop.forAll(genT0, genIv, genSpan) { (t0, ivSec, span) =>
      val t1 = t0 + span
      val key = TsAggSpec(ivSec, TimeMode.KeyEmbedded(t0, t1))
      val cell = TsAggSpec(ivSec, TimeMode.CellTs(t0, t1))
      val lastBucketStart = key.bucketStartOf(t1)
      cell.scanEndMs == t1 &&
        key.scanEndMs == lastBucketStart + key.intervalMs &&
        lastBucketStart <= t1 && t1 < key.scanEndMs && // trailing bucket contains t1
        key.scanEndMs > cell.scanEndMs &&              // key mode never scans less
        key.scanEndMs - cell.scanEndMs <= key.intervalMs
    })
  }

  test("bucket count is ceil(span/iv) in cell mode") {
    check(Prop.forAll(genT0, genIv, genSpan) { (t0, ivSec, span) =>
      val spec = TsAggSpec(ivSec, TimeMode.CellTs(t0, t0 + span))
      val iv = spec.intervalMs
      val distinctBuckets = (spec.bucketStartOf(t0 + span - 1) - t0) / iv + 1
      distinctBuckets == (span + iv - 1) / iv
    })
  }

  test("millisecond arithmetic that would wrap is rejected or saturates, never wraps") {
    // an interval whose millis do not fit a Long (it read as -80 ms)
    intercept[IllegalArgumentException](TsAggSpec(Long.MaxValue / 100, TimeMode.CellTs(0, 10)))
    assert(TsAggSpec(Long.MaxValue / 1000, TimeMode.CellTs(0, 10)).intervalMs == Long.MaxValue / 1000 * 1000)
    // key mode's trailing bucket runs past the Long range: the exclusive end
    // saturates (it read as -9223372036851951616) and the last ms is exact
    val key = TsAggSpec(3600, TimeMode.KeyEmbedded(0, Long.MaxValue - 1))
    val last = key.bucketStartOf(Long.MaxValue - 1)
    assert(last == (Long.MaxValue - 1) - (Long.MaxValue - 1) % 3600000L)
    assert(key.scanEndMs == Long.MaxValue && key.scanLastMs == Long.MaxValue)
    assert(key.bucketStartOf(Long.MaxValue) == last)
    // in range, the end is the last ms + 1 in both modes
    val cell = TsAggSpec(3600, TimeMode.CellTs(0, Long.MaxValue))
    assert(cell.scanEndMs == Long.MaxValue && cell.scanLastMs == Long.MaxValue - 1)
    // a range wider than a Long of millis would wrap ts - t0
    intercept[IllegalArgumentException](TsAggSpec(3600, TimeMode.CellTs(Long.MinValue, Long.MaxValue)))
    // a bucket that would start before Long.MinValue raises
    val late = TsAggSpec(3600, TimeMode.CellTs(1L, 2L))
    intercept[ArithmeticException](late.bucketStartOf(Long.MinValue))
  }
}
