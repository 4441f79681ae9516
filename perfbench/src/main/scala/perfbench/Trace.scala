package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of benchmark code. Spans of one operation share `op`;
  * `parent` is the enclosing span's id (-1 at the top).
  */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Double, end: Double,
    isOp: Boolean) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, start: Double, end: Double, module: String, stageIds: Seq[Int])

final class StageRec(val id: Int, val numTasks: Int) {
  var submit = 0.0; var complete = 0.0
  var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var waitMs = 0L
  var shuffleWrite = 0L; var spill = 0L
}

/** Per-execution plan facts, read from the executed plan after it ran. */
final case class PlanRec(start: Double, optimizeMs: Double, planningMs: Double,
    exchanges: Int, filesScanned: Long, rowsScanned: Long)

/** Counters one span accumulated, from the Spark jobs that started in it. */
final case class Profile(wallMs: Double, driverMs: Double, jobs: Int, stages: Int,
    tasks: Long, failedTasks: Long, taskWaitMs: Double, oneTaskStageMs: Double,
    utilisation: Double, shuffleBytes: Long, spillBytes: Long,
    modules: Map[String, (Int, Double)])

/** Spans kept in memory plus a `SparkListener` and a
  * `QueryExecutionListener` that record jobs, stages, tasks and executed
  * plans. Registered only for a traced run; the untraced run pays nothing
  * but the span bookkeeping.
  */
final class Trace(cores: Int) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch ms with sub-ms resolution, aligned with Spark's event times. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long, String, Double)]
  private var nextOp = 0L
  /** Per-operation counters the benchmark code reports (op -> name -> value). */
  val counters = mutable.Map.empty[Long, mutable.Map[String, Double]]

  /** Runs `body` as a new operation's root span. */
  def op[T](name: String)(body: => T): T = { nextOp += 1; span(name, nextOp)(body) }

  def span[T](name: String, op: Long = -1)(body: => T): T = {
    val id = spans.length + open.length
    val o = if (op >= 0) op else open.headOption.map(_._2).getOrElse(0L)
    open.push((id, o, name, now()))
    try body finally {
      val (sid, sop, sname, start) = open.pop()
      spans += Span(sid, open.headOption.map(_._1).getOrElse(-1), sop, sname, start, now(), op >= 0)
    }
  }

  /** Adds `v` to counter `name` of the innermost open operation. */
  def count(name: String, v: Double): Unit = open.headOption.foreach { case (_, o, _, _) =>
    val m = counters.getOrElseUpdate(o, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  // --- Spark side: filled on the listener-bus thread ---------------------

  private val jobsBuf = mutable.ArrayBuffer.empty[JobRec]
  private val jobStart = mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val stagesById = mutable.Map.empty[Int, StageRec]
  private val execDetails = mutable.Map.empty[Long, (Double, String)]
  private val plansBuf = mutable.ArrayBuffer.empty[PlanRec]

  def jobs: Seq[JobRec] = synchronized(jobsBuf.toSeq)
  def plans: Seq[PlanRec] = synchronized(plansBuf.toSeq)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized(execDetails(e.executionId) = (e.time.toDouble, e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execDetails.get(id.toLong)).map(_._2)
    val site = exec.getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    jobStart(e.jobId) = (e.time.toDouble, Stats.moduleOf(site), e.stageIds)
    e.stageInfos.foreach(s => stagesById.getOrElseUpdate(s.stageId, new StageRec(s.stageId, s.numTasks)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, module, stageIds) =>
      jobsBuf += JobRec(e.jobId, t, e.time.toDouble, module, stageIds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stagesById.getOrElseUpdate(i.stageId, new StageRec(i.stageId, i.numTasks))
    s.submit = i.submissionTime.getOrElse(0L).toDouble
    s.complete = i.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stagesById.getOrElseUpdate(e.stageId, new StageRec(e.stageId, 0))
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      // scheduler delay plus deserialisation: all of a task's time that
      // is neither running nor shipping its result
      s.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val start = synchronized(execDetails.get(qe.id).map(_._1)).getOrElse(now() - durationNs / 1e6)
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    val scans = scanFacts(plan)
    val rec = PlanRec(start, phase("optimization"), phase("planning"),
      collect(plan) { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1 }.size,
      scans.map(_._1).sum, scans.map(_._2).sum)
    synchronized(plansBuf += rec)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (files read, rows produced) of every file scan in the final plan. */
  private def scanFacts(plan: SparkPlan): Seq[(Long, Long)] = collect(plan) {
    case s: FileSourceScanExec =>
      (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    case b: BatchScanExec =>
      val files = b.inputPartitions.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString)
        case _ => Nil
      }.distinct.size.toLong
      (files, b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
  }

  // --- Derived profiles ---------------------------------------------------

  def profile(s: Span): Profile = profile(Seq(s))

  /** Counters of the jobs that started inside any of `ss` (disjoint spans). */
  def profile(ss: Seq[Span]): Profile = {
    val within = (t: Double) => ss.exists(s => t >= s.start && t <= s.end)
    val js = jobs.filter(j => within(j.start))
    val wall = ss.map(_.ms).sum
    val stages = synchronized(js.flatMap(_.stageIds).distinct.flatMap(stagesById.get)
      .filter(_.submit > 0))
    val run = stages.map(_.runMs).sum.toDouble
    val modules = js.groupBy(_.module).map { case (m, mj) =>
      m -> (mj.size, Stats.unionLength(mj.map(j => (j.start, j.end))))
    }
    val busy = ss.map { s =>
      Stats.unionLength(js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
    }.sum
    Profile(
      wallMs = wall,
      driverMs = wall - busy,
      jobs = js.size, stages = stages.size, tasks = stages.map(_.tasks).sum,
      failedTasks = stages.map(_.failedTasks).sum, taskWaitMs = stages.map(_.waitMs).sum.toDouble,
      oneTaskStageMs = stages.filter(_.numTasks == 1).map(st => st.complete - st.submit).sum,
      utilisation = if (wall > 0) run / (wall * cores) else 0.0,
      shuffleBytes = stages.map(_.shuffleWrite).sum, spillBytes = stages.map(_.spill).sum,
      modules = modules)
  }

  /** Plan facts of the executions that started inside `s`. */
  def plansIn(s: Span): Seq[PlanRec] = plans.filter(p => p.start >= s.start && p.start <= s.end)

  /** Self time: the span's wall time minus that of its child spans. */
  def selfMs(s: Span): Double = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** Operation root spans named `name`, or starting with it when `prefix`. */
  def ops(name: String, prefix: Boolean = false): Seq[Span] =
    spans.filter(s => s.isOp && (if (prefix) s.name.startsWith(name) else s.name == name)).toSeq

  /** Spans named `child` inside the given operations. */
  def under(ops: Seq[Span], child: String): Seq[Span] = {
    val ids = ops.map(_.op).toSet
    spans.filter(s => s.name == child && ids.contains(s.op)).toSeq
  }
}
