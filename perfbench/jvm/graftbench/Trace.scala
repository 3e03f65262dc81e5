package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job, stage or task as the listener bus reported it. Times are
  * epoch milliseconds, the bus's own clock. */
final case class JobRec(id: Int, start: Long, var end: Long = Long.MaxValue)
final case class StageRec(id: Int, submitted: Long, var firstLaunch: Long = Long.MaxValue,
    var end: Long = Long.MaxValue)
final case class TaskRec(stageId: Int, launch: Long, cpuNs: Long, gcMs: Long,
    rowsRead: Long, bytesRead: Long, shuffleWrite: Long, spill: Long, ok: Boolean)
/** The optimization + planning phases of one executed query. */
final case class PlanRec(optStart: Long, planEnd: Long, qe: QueryExecution)

/**
 * Benchmark-owned recorder: a `SparkListener` for jobs, stages, tasks and
 * the ends of SQL executions (actions), plus a `QueryExecutionListener` for
 * Catalyst's phase timings. Events are
 * only appended to in-memory buffers here; attribution to operations
 * happens after the window, in [[Attribution]].
 */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val actionEnds = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += StageRec(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.findLast(_.id == e.stageInfo.stageId).foreach(
      _.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.findLast(_.id == e.stageId).foreach { s =>
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    tasks += (if (m == null) TaskRec(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0, 0, 0, ok)
    else TaskRec(e.stageId, e.taskInfo.launchTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, ok))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd => synchronized { actionEnds += x.time }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    (ph.get("optimization"), ph.get("planning")) match {
      case (Some(o), Some(p)) => synchronized { plans += PlanRec(o.startTimeMs, p.endTimeMs, qe) }
      case _ =>
    }
  }
}

/** What the benchmark itself knows about one timed operation. Times are
  * epoch milliseconds with sub-millisecond fractions. */
final case class OpTiming(id: Int, kind: String, start: Double, end: Double,
    buildEnd: Option[Double], cachedBytes: Long, leakedBytes: Long)

/** A named interval in the trace tree: `op` → `build`/`plan`/`exec`/`client`
  * (or `ingest`) → `job` → `stage`. */
final case class Span(op: Int, name: String, parent: String, start: Double, end: Double,
    self: Double)

/**
 * Splits each operation's wall time into layers by its own boundaries:
 * `build` ends when the registry function returns (registry operations) or
 * when Catalyst starts optimizing the final action (client calls); `plan`
 * ends when the final action's physical planning ends; `exec` ends when the
 * final action's SQL execution ends (or, where no end was seen, with the
 * last job it ran); `client` runs from that end to the return (collecting
 * the result to the caller). A layer counts as accounted for only when the
 * events that bound it were recorded, so `trace.accounted_s` falls short of
 * the wall time wherever one is missing. An ingest operation is one
 * `ingest` span, counted as execution. Jobs, stages and
 * tasks are attributed by time window: the single client thread makes the
 * window unambiguous, including jobs launched on threads the library owns.
 */
object Attribution {

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _ =>
      val inner = p match {
        case c: org.apache.spark.sql.execution.CommandResultExec => walk(c.commandPhysicalPlan)
        case _ => Nil
      }
      p +: (inner ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk))
  }

  /** Operator and exchange counts of an executed (final, post-AQE) plan. */
  def planShape(qe: QueryExecution): (Int, Int) = {
    val nodes = walk(qe.executedPlan).filterNot(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.InputAdapter])
    (nodes.size, nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Per-operation layer figures (keys are the per-layer metric stems) plus
    * the op's spans. */
  def attribute(rec: Recorder, op: OpTiming): (Map[String, Double], Seq[Span]) = rec.synchronized {
    val (t0, t1) = (op.start, op.end)
    def within(t: Long) = t >= math.floor(t0) && t <= t1
    val jobs = rec.jobs.filter(j => within(j.start)).toSeq
    val stages = rec.stages.filter(s => within(s.submitted)).toSeq
    val tasks = rec.tasks.filter(t => within(t.launch)).toSeq
    val finalPlan = rec.plans.filter(p => within(p.planEnd)).sortBy(_.planEnd).lastOption
    val actionEnd = rec.actionEnds.filter(within).maxOption.map(_.toDouble)
    val ingest = op.kind == "ingest"
    val b1 = if (ingest) t0 else math.min(t1, math.max(t0,
      op.buildEnd.getOrElse(finalPlan.map(_.optStart.toDouble).getOrElse(t0))))
    val b2 = if (ingest) t0 else math.min(t1, math.max(b1,
      finalPlan.map(_.planEnd.toDouble).getOrElse(b1)))
    val execJobs = jobs.filter(_.start >= b1)
    val buildJobs = jobs.filter(_.start < b1)
    val b3 = if (ingest) t1 else math.min(t1, math.max(b2, actionEnd.getOrElse(
      (execJobs.map(j => math.min(j.end.toDouble, t1)) :+ b2).max)))
    val buildSeen = ingest || op.buildEnd.isDefined || finalPlan.isDefined
    val planSeen = ingest || finalPlan.isDefined
    val execSeen = ingest || planSeen && (actionEnd.isDefined || execJobs.nonEmpty)
    val clientSeen = ingest || actionEnd.isDefined
    def seen(ok: Boolean, a: Double, b: Double) = if (ok) b - a else 0.0
    val accounted = seen(buildSeen, t0, b1) + seen(planSeen, b1, b2) + seen(execSeen, b2, b3) +
      seen(clientSeen, b3, t1)
    def ivs(js: Seq[JobRec]) = js.map(j => (j.start.toDouble, math.min(j.end.toDouble, t1)))
    val execTasks = tasks.filter(_.launch >= b1)
    val buildTasks = tasks.filter(_.launch < b1)
    val execStages = stages.filter(_.submitted >= b1)
    def sumL(ts: Seq[TaskRec])(f: TaskRec => Long) = ts.iterator.map(f).sum.toDouble
    val execCpuNs = sumL(execTasks)(_.cpuNs)
    val execRows = sumL(execTasks)(_.rowsRead)
    val execSpan = b3 - b2
    val (nodes, exchanges) = finalPlan.map(p => planShape(p.qe)).getOrElse((0, 0))
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    val m = Map[String, Double](
      "wall_s" -> (t1 - t0) / 1e3,
      "operators.build_s" -> (b1 - t0) / 1e3,
      "operators.build_jobs" -> buildJobs.size,
      "operators.build_task_cpu_s" -> sumL(buildTasks)(_.cpuNs) / 1e9,
      "operators.build_driver_s" -> ((b1 - t0) - covered(ivs(buildJobs), t0, b1)) / 1e3,
      "operators.cached_mb" -> op.cachedBytes / 1048576.0,
      "operators.leaked_mb" -> op.leakedBytes / 1048576.0,
      "plan.s" -> (b2 - b1) / 1e3,
      "plan.nodes" -> nodes,
      "plan.exchanges" -> exchanges,
      "exec.s" -> execSpan / 1e3,
      "exec.jobs" -> execJobs.size,
      "exec.stages" -> execStages.size,
      "exec.tasks" -> execTasks.size,
      "exec.driver_s" -> (execSpan - covered(ivs(execJobs), b2, b3)) / 1e3,
      "exec.sched_wait_s" -> execStages.iterator
        .filter(_.firstLaunch != Long.MaxValue).map(s => s.firstLaunch - s.submitted).sum / 1e3,
      "exec.task_cpu_s" -> execCpuNs / 1e9,
      "exec.task_cpu_ns" -> execCpuNs,
      "exec.gc_s" -> sumL(execTasks)(_.gcMs) / 1e3,
      "exec.shuffle_write_mb" -> sumL(execTasks)(_.shuffleWrite) / 1048576.0,
      "exec.spill_mb" -> sumL(execTasks)(_.spill) / 1048576.0,
      "exec.failed_tasks" -> tasks.count(!_.ok),
      "exec.rows_read" -> execRows,
      "exec.core_util" -> (if (execSpan > 0) execCpuNs / 1e6 / (execSpan * cores) else 0.0),
      "sources.rows_read" -> sumL(tasks)(_.rowsRead),
      "sources.bytes_read" -> sumL(tasks)(_.bytesRead),
      "client.collect_s" -> seen(clientSeen, b3, t1) / 1e3,
      "trace.accounted_s" -> accounted / 1e3)
    val layerSpans =
      if (ingest) Seq(("ingest", t0, t1, execJobs))
      else Seq(("build", t0, b1, buildJobs), ("plan", b1, b2, Nil),
        ("exec", b2, b3, execJobs), ("client", b3, t1, Nil))
    val spans = Span(op.id, "op", "", t0, t1, 0.0) +: layerSpans.flatMap { case (n, a, b, js) =>
      Span(op.id, n, "op", a, b, (b - a) - covered(ivs(js), a, b)) +: js.flatMap { j =>
        val je = math.min(j.end.toDouble, t1)
        val ss = stages.filter(s => s.submitted >= j.start && s.submitted <= je)
        Span(op.id, s"job-${j.id}", n, j.start, je,
          (je - j.start) - covered(ss.map(s => (s.submitted.toDouble,
            math.min(s.end.toDouble, je))), j.start, je)) +:
          ss.map(s => Span(op.id, s"stage-${s.id}", s"job-${j.id}", s.submitted,
            math.min(s.end.toDouble, je), math.min(s.end.toDouble, je) - s.submitted))
      }
    }
    (m, spans)
  }
}
