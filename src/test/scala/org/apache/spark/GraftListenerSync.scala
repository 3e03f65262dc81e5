package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/**
 * Test-only escape hatch into `SparkContext.listenerBus` (private[spark]):
 * drains the async listener queue DETERMINISTICALLY, replacing the fixed
 * `Thread.sleep(500)` the zero-jobs pin used (ADVICE r19: delivery slower
 * than the sleep would let a construction-time job pass undetected,
 * weakening the plan-only contract the test exists to pin).
 */
object GraftListenerSync {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `f` and returns the number of Spark jobs it started. */
  def jobsOf[T](sc: SparkContext)(f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      waitUntilEmpty(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` and returns the rows its tasks read from their sources: the
    * sum of every finished task's `inputMetrics.recordsRead`. */
  def rowsReadOf[T](sc: SparkContext)(f: => T): (T, Long) = {
    val rows = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
    }
    waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      waitUntilEmpty(sc)
      (out, rows.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` and returns the number of classes Spark's code generator
    * compiled meanwhile, on the driver and in local-mode tasks. A source
    * already in the class cache is not compiled again, so this counts misses. */
  def compilesOf[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = f
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
