package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Double]) {
  def ms: Long = endMs - startMs
  def json: String = {
    val a = attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Out.num(v)}""" }
    s"""{"id":$id,"parent":$parent,"name":"${Out.esc(name)}","layer":"$layer",""" +
      s""""start_ms":$startMs,"end_ms":$endMs${a.map("," + _).mkString}}"""
  }
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 1L
  def add(parent: Long, name: String, layer: String, start: Long, end: Long,
          attrs: Map[String, Double] = Map.empty): Long = synchronized {
    val id = next
    next += 1
    spans += Span(id, parent, name, layer, start, end, attrs)
    id
  }
  def all: Seq[Span] = synchronized(spans.toList)
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach(s => w.println(s.json)) finally w.close()
  }
}

/** Job, stage and task events of the batch workloads, plus the
  * Catalyst phase times of every query execution. Jobs carry the
  * harness's local properties (`perfbench.query`, `perfbench.phase`),
  * so each is attributed to the phase that submitted it even though
  * listener events arrive asynchronously.
  */
final class BatchListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, key: String, phase: String, callSite: String,
                       start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, job: Int, name: String, submit: Long, end: Long,
                         tasks: Int, metrics: Map[String, Double])
  final case class Qe(phases: Map[String, (Long, Long)], rowsOut: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val taskSpans = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  var taskFailures = 0L
  private val stageJob = mutable.Map.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[Qe]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop("perfbench.query"), prop("perfbench.phase"),
      prop("callSite.short"), e.time, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    if (!i.successful) taskFailures += 1
    taskSpans.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += (i.launchTime -> i.finishTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val m = if (tm == null) Map.empty[String, Double] else Map(
      "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_read_bytes" -> (tm.shuffleReadMetrics.remoteBytesRead +
        tm.shuffleReadMetrics.localBytesRead).toDouble,
      "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble,
      "gc_ms" -> tm.jvmGCTime.toDouble,
      "input_bytes" -> tm.inputMetrics.bytesRead.toDouble,
      "input_rows" -> tm.inputMetrics.recordsRead.toDouble)
    val busy = taskSpans.getOrElse(si.stageId, Nil).map(t => (t._2 - t._1).toDouble).sum
    stages += Stage(si.stageId, stageJob.getOrElse(si.stageId, -1), si.name,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      m + ("task_busy_ms" -> busy))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, BatchListener.rowsOut(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, rows: Long): Unit = synchronized {
    qes += Qe(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs -> p.endTimeMs) }, rows)
  }

  /** Query executions recorded since the last call. */
  def takeQes(): Seq[Qe] = synchronized {
    val r = qes.toList
    qes.clear()
    r
  }
}

object BatchListener {
  /** Rows produced by the plan under the sink: the `numOutputRows` of the
    * top-most operator that reports one. */
  def rowsOut(qe: QueryExecution): Long = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case w: WholeStageCodegenExec => Seq(w.child)
      case _ => p.children
    }
    var frontier: Seq[SparkPlan] = Seq(qe.executedPlan)
    while (frontier.nonEmpty) {
      frontier.flatMap(_.metrics.get("numOutputRows")).headOption match {
        case Some(m) => return m.value
        case None => frontier = frontier.flatMap(children)
      }
    }
    0L
  }

  /** Length of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    intervals.map { case (s, e) => (s max lo, e min hi) }.filter(t => t._2 > t._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { total += e - (s max cur); cur = e }
      }
    total
  }
}
