package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one entry span saw, filled by [[Recorder]] from listener
  * events. Times are seconds; byte and row counts are totals over the
  * entry's tasks. */
final class SpanStats(val id: Int, val pass: Int, val entry: String) {
  var startMs = 0L
  var endMs = 0L
  var buildS = 0.0
  var executeS = 0.0
  var ok = true
  var queryExecutions = 0
  var analysisS, optimizationS, planningS = 0.0
  val jobs = mutable.ArrayBuffer[JobRec]()
  var stages = 0
  var tasks = 0
  var emptyTasks = 0
  var taskFailures = 0
  var runS, cpuS, gcS = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
  var fetchWaitS = 0.0
  var scanBytes, scanRecords = 0L
  var logErrors = 0
  private[perfbench] val seen = mutable.Set[QueryExecution]()

  def wallS: Double = (endMs - startMs) / 1e3
  def phasesS: Double = analysisS + optimizationS + planningS
  /** Wall time covered by at least one of the entry's jobs. */
  def jobSpanS: Double = {
    val iv = jobs.filter(_.endMs > 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }
}

final class JobRec(val id: Int, val phase: String, val startMs: Long,
    val stageIds: Seq[Int]) {
  var endMs = 0L
  var failed = false
}

/** Error-level log events counted against the span that is current
  * when they arrive. Entries can log an error and still return (for
  * example a failing execution listener), so this is counted beside
  * task failures, not folded into them. */
final class ErrorCounter(current: () => Option[SpanStats])
    extends AbstractAppender("perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  @volatile var total = 0L
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) synchronized {
      total += 1
      current().foreach(_.logErrors += 1)
    }
}

object ErrorCounter {
  /** (Re)attach to the root logger; Spark may rebuild the logging
    * configuration when a context starts, so this runs after every
    * session create. */
  def attach(c: ErrorCounter): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    if (!root.getAppenders.containsKey(c.getName)) {
      if (!c.isStarted) c.start()
      root.addAppender(c, Level.ERROR, null)
      ctx.updateLoggers()
    }
  }
}

/** Scheduler and Catalyst listener for the traced passes. Jobs and
  * stages are attributed through the `perfbench.span` local property
  * the runner sets around each entry; query executions and log errors
  * through the span that is open when the bus delivers them, which is
  * exact because the runner drains the bus before it closes a span. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val spans = mutable.Map[Int, SpanStats]()
  private val stageSpan = mutable.Map[Int, SpanStats]()
  private val jobsById = mutable.Map[Int, JobRec]()
  private val submitted = mutable.Set[Int]()
  @volatile private var open: Option[SpanStats] = None
  var orphanJobs = 0

  def current: Option[SpanStats] = open

  def begin(s: SpanStats): Unit = synchronized { spans(s.id) = s; open = Some(s) }

  /** Closes the open span. `frame` is the plan the entry returned:
    * `spark.sql` analyses it eagerly, before the noop write builds its
    * own execution, so its phases are added unless an action already
    * reported that same execution. */
  def end(frame: Option[QueryExecution]): Unit = synchronized {
    for (s <- open; qe <- frame if !s.seen.contains(qe)) phases(s, qe, executed = false)
    open.foreach(_.seen.clear())
    open = None
  }

  /** Stages a job listed but never ran (their output was reused). */
  def skippedStages(s: SpanStats): Int = synchronized {
    s.jobs.map(_.stageIds.count(id => !submitted.contains(id))).sum
  }

  private def spanOf(props: java.util.Properties): Option[SpanStats] =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .flatMap(id => spans.get(id.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties) match {
      case Some(s) =>
        val phase = Option(e.properties.getProperty(Recorder.PhaseKey)).getOrElse("?")
        val j = new JobRec(e.jobId, phase, e.time, e.stageIds)
        jobsById(e.jobId) = j
        s.jobs += j
      case None => orphanJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    spanOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      s.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        s.spill += m.diskBytesSpilled
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRecords += m.inputMetrics.recordsRead
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val wrote = m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
        if (read == 0 && wrote == 0) s.emptyTasks += 1
      }
    }
  }

  private def phases(s: SpanStats, qe: QueryExecution, executed: Boolean): Unit = {
    val p = qe.tracker.phases
    def d(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    s.seen += qe
    if (executed) s.queryExecutions += 1
    s.analysisS += d("analysis")
    s.optimizationS += d("optimization")
    s.planningS += d("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { open.foreach(phases(_, qe, executed = true)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { open.foreach(phases(_, qe, executed = true)) }
}

object Recorder {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}
