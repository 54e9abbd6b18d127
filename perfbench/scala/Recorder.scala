package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are taken around every call the
  * harness makes into a layer; Spark's scheduler, task and planning
  * figures come from its public listener APIs, grouped by job group (one
  * job group per op). Everything stays in memory until [[summary]], which
  * must run after `SparkContext.stop()` has drained the listener bus. */
final class Recorder(cores: Int) extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String, op: String)(body: => T): T = {
    val id = spans.size
    val start = System.nanoTime() - t0
    spans += Span(id, name, start, -1L, open.headOption.getOrElse(-1), op,
      System.currentTimeMillis())
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(end = System.nanoTime() - t0,
        endMs = System.currentTimeMillis())
    }
  }

  // --- listener state: written on the listener thread, read after stop ---
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stagesDone = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val planning = mutable.ArrayBuffer.empty[Planning]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = prop(e.properties, "spark.jobGroup.id")
    jobs(e.jobId) = Job(g, prop(e.properties, PhaseKey), e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup(e.stageInfo.stageId) = prop(e.properties, "spark.jobGroup.id")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.failureReason.isEmpty)
      stagesDone(stageGroup.getOrElse(e.stageInfo.stageId, "")) += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks += Task(
      stageGroup.getOrElse(e.stageId, ""), e.stageId,
      stageJob.getOrElse(e.stageId, -1), e.taskInfo.duration,
      m.executorCpuTime, m.executorRunTime, m.executorDeserializeTime,
      m.jvmGCTime, m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    planning += Planning(start, d("analysis"), d("optimization"), d("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-layer totals over the traced ops, keyed by the metric names of
    * the benchmark. `opOf` maps a job group to its op name; groups it maps
    * to None (other passes, output checks) are left out. */
  def summary(opOf: String => Option[String]): Map[String, Double] = {
    val mine = tasks.filter(t => opOf(t.group).isDefined)
    val myJobs = jobs.filter { case (_, j) => opOf(j.group).isDefined }
    // catalyst phases belong to the op whose span covers their start
    val opSpans = spans.filter(_.name == "op")
    val plans = planning.filter(p => opSpans.exists(s => p.startMs >= s.startMs && p.startMs <= s.endMs))
    // idle: each job's wall time on every core, less the task time it used
    val busy = mine.groupBy(_.job).map { case (j, ts) => j -> ts.map(_.duration).sum }
    val idleMs = myJobs.map { case (id, j) =>
      if (j.end < 0) 0L else math.max(0L, (j.end - j.start) * cores - busy.getOrElse(id, 0L))
    }.sum
    // skew: max / median task time of each op's longest stage, median over ops
    val skews = mine.groupBy(_.group).values.flatMap { ts =>
      val longest = ts.groupBy(_.stage).values.maxBy(_.map(_.duration).sum)
      val d = longest.map(_.duration.toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) Some(d.last / med) else None
    }.toSeq.sorted
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "scheduler.jobs" -> myJobs.size.toDouble,
      "scheduler.stages" -> stagesDone.collect { case (g, n) if opOf(g).isDefined => n }.sum.toDouble,
      "scheduler.tasks" -> mine.size.toDouble,
      "scheduler.task_deser_s" -> mine.map(_.deserMs).sum / 1e3,
      "scheduler.idle_s" -> idleMs / 1e3,
      "queries.build_jobs" -> myJobs.count(_._2.phase == "build").toDouble,
      "exec.task_cpu_s" -> mine.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> mine.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> mine.map(_.gcMs).sum / 1e3,
      "exec.peak_exec_mem_mb" -> mine.map(_.peakMem).maxOption.getOrElse(0L) / mb,
      "shuffle.write_mb" -> mine.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> mine.map(_.shuffleRead).sum / mb,
      "shuffle.spill_mb" -> mine.map(_.spill).sum / mb,
      "shuffle.skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)))
  }

  /** Spans as JSON lines (name, start, end, parent, op; times in ns). */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"op":"${s.op}"}"""
  }
}

object Recorder {
  /** Local property that marks the jobs an op starts while its query is
    * being built ("build") or while its timed action runs ("action"). */
  val PhaseKey = "perfbench.phase"

  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, op: String, startMs: Long, endMs: Long = -1L)
  final case class Job(group: String, phase: String, start: Long, end: Long)
  final case class Task(group: String, stage: Int, job: Int, duration: Long,
      cpuNs: Long, runMs: Long, deserMs: Long, gcMs: Long, peakMem: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Planning(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
}
