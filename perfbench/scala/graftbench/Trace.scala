package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. `kind` is query, build, plan, execute, job or
  * stage; every span but a query has a parent, and all spans of one
  * query share `queryId`. Times are epoch milliseconds. */
final case class Span(
    id: String, parent: String, kind: String, name: String,
    queryId: String, startMs: Long, endMs: Long) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "query_id" -> queryId, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Spark listener plus query-execution listener for the traced run.
  *
  * The harness tags every job with the span that caused it through the
  * SparkContext local properties [[Tracer.SpanKey]] / [[Tracer.QueryKey]];
  * the listener turns jobs and stages into child spans and keeps each
  * stage's tasks so that per-stage skew (slowest over median task) and
  * task-free wall time can be computed. Everything stays in memory until
  * [[Tracer.perQuery]] and [[Tracer.spans]] are read at the end. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final case class Task(
      launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRows: Long, shRead: Long, shWrite: Long, spill: Long)
  private final class Job(
      val id: Int, val parent: String, val queryId: String, val start: Long,
      val checkpoint: Boolean) {
    var end: Long = start
  }
  private final class Stage(val id: Int, val attempt: Int) {
    var jobId: Int = -1
    var name: String = ""
    var submit: Long = 0L
    var complete: Long = 0L
    val tasks = mutable.ArrayBuffer[Task]()
  }
  private final case class Phase(name: String, start: Long, end: Long)

  private val harness = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val phases = mutable.ArrayBuffer[Phase]()

  def addSpan(s: Span): Unit = synchronized { harness += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val checkpoint = e.stageInfos.exists(si =>
      si.name.contains("Checkpointer") || si.details.contains("Checkpointer"))
    jobs(e.jobId) = new Job(
      e.jobId,
      props.flatMap(p => Option(p.getProperty(SpanKey))).orNull,
      props.flatMap(p => Option(p.getProperty(QueryKey))).orNull,
      e.time, checkpoint)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), {
      val s = new Stage(id, attempt)
      s.jobId = stageJob.getOrElse(id, -1)
      s
    })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId, si.attemptNumber())
    s.name = si.name
    s.submit = si.submissionTime.getOrElse(0L)
    s.complete = si.completionTime.getOrElse(s.submit)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val t = if (m == null) Task(ti.launchTime, ti.finishTime, 0, 0, 0, 0, 0, 0, 0, 0)
    else Task(ti.launchTime, ti.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
    stage(e.stageId, e.stageAttemptId).tasks += t
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs, p.endTimeMs)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Every span: the harness's query/build/plan/execute spans plus one
    * span per job and per stage attempt, parented as they ran. */
  def spans: Seq[Span] = synchronized {
    val q = harness.toSeq
    val js = jobs.values.toSeq.map { j =>
      Span(s"job-${j.id}", j.parent, "job", s"job ${j.id}", j.queryId, j.start, j.end)
    }
    val ss = stages.values.toSeq.map { s =>
      val qid = jobs.get(s.jobId).map(_.queryId).orNull
      Span(s"stage-${s.id}.${s.attempt}", s"job-${s.jobId}", "stage",
        s.name, qid, s.submit, s.complete)
    }
    q ++ js ++ ss
  }

  /** Layer counters per query span id: the same metric names as the
    * benchmark's per-layer table, without the module prefix. */
  def perQuery(cores: Int): Map[String, Map[String, Double]] = synchronized {
    val byKind = harness.groupBy(_.kind)
    val phaseSpans = harness.filter(s => s.kind != "query").groupBy(_.queryId)
    byKind.getOrElse("query", Nil).map { q =>
      val mine = phaseSpans.getOrElse(q.id, Nil)
      def phaseS(kind: String) = mine.filter(_.kind == kind)
        .map(s => (s.endMs - s.startMs) / 1e3).sum
      val buildIds = mine.filter(_.kind == "build").map(_.id).toSet
      val qJobs = jobs.values.filter(_.queryId == q.id).toSeq
      val jobIds = qJobs.map(_.id).toSet
      val qStages = stages.values.filter(s => jobIds.contains(s.jobId)).toSeq
      val tasks = qStages.flatMap(_.tasks)
      val waitMs = qStages.map(s => s.tasks.map(t => math.max(0L, t.launch - s.submit)).sum).sum
      val skew = (1.0 +: qStages.filter(_.tasks.nonEmpty).map { s =>
        val d = s.tasks.map(t => math.max(1L, t.finish - t.launch)).sorted
        d.last.toDouble / d(d.size / 2)
      }).max
      val wallMs = q.endMs - q.startMs
      val busyMs = union(tasks.map(t => (math.max(t.launch, q.startMs), math.min(t.finish, q.endMs))))
      val qPhases = phases.filter(p => p.start >= q.startMs && p.start <= q.endMs)
      def planPhase(n: String) = qPhases.filter(_.name == n).map(p => (p.end - p.start) / 1e3).sum
      q.id -> Map(
        "wall_s" -> wallMs / 1e3,
        "build_s" -> phaseS("build"),
        "plan_s" -> phaseS("plan"),
        "exec_s" -> phaseS("execute"),
        "build_jobs" -> qJobs.count(j => buildIds.contains(j.parent)).toDouble,
        "checkpoint_jobs" -> qJobs.count(_.checkpoint).toDouble,
        "jobs" -> qJobs.size.toDouble,
        "stages" -> qStages.size.toDouble,
        "tasks" -> tasks.size.toDouble,
        "task_run_s" -> tasks.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "task_wait_s" -> waitMs / 1e3,
        "idle_s" -> math.max(0L, wallMs - busyMs) / 1e3,
        "core_busy_frac" -> tasks.map(_.runMs).sum.toDouble / math.max(1L, wallMs * cores),
        "skew_max" -> skew,
        "shuffle_read_mb" -> tasks.map(_.shRead).sum / 1e6,
        "shuffle_write_mb" -> tasks.map(_.shWrite).sum / 1e6,
        "spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "input_mb" -> tasks.map(_.inBytes).sum / 1e6,
        "input_rows" -> tasks.map(_.inRows).sum.toDouble,
        "scan_tasks" -> tasks.count(_.inBytes > 0).toDouble,
        "analysis_s" -> planPhase("analysis"),
        "optimization_s" -> planPhase("optimization"),
        "planning_s" -> planPhase("planning"))
    }.toMap
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val QueryKey = "graftbench.query"

  /** Total length of the union of closed intervals. */
  private[graftbench] def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
