package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's event recorder: a [[SparkListener]] for jobs and
  * tasks plus a [[QueryExecutionListener]] for each executed query's
  * planning tracker. Everything stays in memory; [[Trace.opRecord]]
  * turns the events of one op into layer self-times and counters, and
  * the runner writes those out when the run ends.
  *
  * Jobs are tied to an op through the `graftbench.op` local property
  * the runner sets on its thread before each op (Spark copies local
  * properties into the threads that build broadcasts and submit query
  * stages).
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, op, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.resultBytes += m.resultSize
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + e.taskInfo.gettingResultTime
        j.schedDelayMs += math.max(0L, e.taskInfo.duration - busy)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val exchanges =
      try Trace.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
    synchronized { queries += Query(phases, exchanges) }
  }

  /** Layer self-times and counters of one op.
    *
    * `spans` are the runner's own spans around calls into graft, in
    * epoch milliseconds: `op` for the whole op, and one or more of
    * `sources` (Tables.load), `build` (constructing the query or frame,
    * including any plan-time jobs it runs), `action` (the materializing
    * call) and `maintain` (ViewMaintenance.merge). Inside `action` the
    * children are the final query's planning phases, the time at least
    * one of its tasks runs (`exec`) and the tail after the last job
    * (`deliver`); what remains of `action` is the per-action `floor`:
    * job submission, stage scheduling and task launch inside the jobs,
    * AQE re-planning and planner work between them. Inside `maintain`
    * the child is the time its tasks run. A self-time is never negative, so
    * overlapping or misattributed spans push the layer sum past the
    * op's wall time, which the layer-sum check then reports.
    */
  def opRecord(opId: String, spans: Map[String, (Double, Double)],
      iterates: Boolean): OpTrace = synchronized {
    val (op0, op1) = spans("op")
    val mine = jobs.values.filter(j => j.op == opId && j.endMs >= 0).toSeq
    def within(a: Double, b: Double) =
      mine.filter(j => j.startMs >= a - 1 && j.startMs <= b + 1)
    def union(iv: Seq[(Double, Double)]): Double = {
      var total = 0.0
      var cur: Option[(Double, Double)] = None
      iv.sortBy(_._1).foreach { case (s, e) =>
        cur match {
          case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
          case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
          case None => cur = Some((s, e))
        }
      }
      total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
    }
    def clip(a: Double, b: Double)(iv: (Long, Long)) =
      (math.max(a, iv._1.toDouble), math.min(b, iv._2.toDouble))
    def taskTime(js: Seq[Job], a: Double, b: Double) =
      union(js.flatMap(_.taskSpans).map(clip(a, b)).filter { case (s, e) => e > s })
    val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val plan = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var buildJobs = 0
    var exchanges = 0
    spans.get("sources").foreach { case (a, b) => layers("sources") += b - a }
    spans.get("build").foreach { case (a, b) =>
      layers("build") += b - a
      buildJobs = within(a, b).size
    }
    spans.get("maintain").foreach { case (a, b) =>
      val exec = taskTime(within(a, b), a, b)
      layers("exec") += exec
      layers("maintain") += math.max(0.0, (b - a) - exec)
    }
    spans.get("action").foreach { case (a, b) =>
      val js = within(a, b)
      val ivs = js.map(j => clip(a, b)((j.startMs, j.endMs)))
      val exec = taskTime(js, a, b)
      // planning phases of the queries executed inside this action
      val phases = queries.toSeq.flatMap { q =>
        val in = q.phases.filter { case (_, (s, e)) => s >= a - 1 && e <= b + 1 }
        if (in.nonEmpty) exchanges = math.max(exchanges, q.exchanges)
        in
      }
      phases.foreach { case (k, (s, e)) => plan(k) += e - s }
      val planMs = phases.map { case (_, (s, e)) => (e - s).toDouble }.sum
      val lastEnd = if (ivs.isEmpty) b else ivs.map(_._2).max
      // an iterator pulls one partition per job, so the gaps between
      // its jobs are the caller consuming rows: delivery, not floor
      val gaps = if (iterates && ivs.nonEmpty)
        (ivs.map(_._2).max - ivs.map(_._1).min) - union(ivs) else 0.0
      val deliver = math.max(0.0, b - lastEnd) + gaps
      layers("plan") += planMs
      layers("exec") += exec
      layers("deliver") += deliver
      layers("floor") += math.max(0.0, (b - a) - planMs - exec - deliver)
    }
    // the runner's own time between its spans (result bookkeeping)
    val covered = Seq("sources", "build", "action", "maintain")
      .flatMap(spans.get).map { case (a, b) => b - a }.sum
    layers("bench") += math.max(0.0, (op1 - op0) - covered)
    val all = mine
    OpTrace(
      wallMs = op1 - op0,
      layers = layers.toMap,
      plan = plan.toMap,
      jobs = all.size,
      buildJobs = buildJobs,
      stages = all.map(_.stages).sum,
      tasks = all.map(_.tasks).sum,
      failedTasks = all.map(_.failedTasks).sum,
      taskRunMs = all.map(_.runMs).sum,
      taskCpuMs = all.map(_.cpuNs).sum / 1e6,
      schedDelayMs = all.map(_.schedDelayMs).sum,
      shuffleWrite = all.map(_.shuffleWrite).sum,
      shuffleRead = all.map(_.shuffleRead).sum,
      spill = all.map(_.spill).sum,
      inputBytes = all.map(_.inputBytes).sum,
      inputRows = all.map(_.inputRows).sum,
      resultBytes = all.map(_.resultBytes).sum,
      exchanges = exchanges)
  }

  /** Forget the events of finished ops (keeps a long run's memory flat). */
  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); queries.clear()
  }
}

object Trace {
  val OpKey = "graftbench.op"

  private final class Job(val id: Int, val op: String, val startMs: Long) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var resultBytes = 0L
    /** (launch, finish) of each finished task, epoch ms */
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private final case class Query(phases: Map[String, (Long, Long)], exchanges: Int)

  final case class OpTrace(wallMs: Double, layers: Map[String, Double],
      plan: Map[String, Double], jobs: Int, buildJobs: Int, stages: Int,
      tasks: Int, failedTasks: Int, taskRunMs: Long, taskCpuMs: Double,
      schedDelayMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inputBytes: Long, inputRows: Long, resultBytes: Long, exchanges: Int)

  /** Shuffle and broadcast exchanges of an executed plan, looking
    * through adaptive wrappers and query stages.
    */
  def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (if (p.isInstanceOf[Exchange]) 1 else 0) + below.map(exchanges).sum
  }
}
