package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run; times are epoch milliseconds. `job`
  * is the Spark job of a job or stage span, `phase` the op phase a job
  * ran in. `parent` is resolved when the run ends ([[Trace.linkSpans]]). */
final case class Span(id: Long, layer: String, name: String, op: Int,
                      start: Double, end: Double, job: Int = -1, phase: String = "",
                      var parent: Long = 0L)

/** Counters collected for one timed op. Written only from the listener
  * thread while the op runs; read by the benchmark thread after the bus
  * drains. */
final class OpCounters {
  var jobs, jobsFailed, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var scanBytes, scanRows, writeBytes, filesWritten = 0L
  val triggerMs = mutable.ArrayBuffer[Double]()
  var addBatchMs, queryPlanningMs, walCommitMs, getBatchMs = 0L
  val stateRows = mutable.Map[String, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
}

/** Process-wide sink of the traced run. Listeners (registered only when
  * tracing) forward here; the benchmark sets [[current]] around each
  * timed op, marks the op's jobs with the `perfbench.op` local property,
  * and drains the listener bus before moving on, so every event of an
  * op is attributed to that op. */
object Trace {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"

  @volatile var current: Int = -1
  @volatile var dataDir: String = ""
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Int, OpCounters]()
  private val jobStart = mutable.Map[Int, (Int, String, Double)]()
  private val stageJob = mutable.Map[Int, Int]()

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def span(layer: String, name: String, op: Int, start: Double, end: Double,
           job: Int = -1, phase: String = ""): Unit = synchronized {
    spanBuf += Span(nextId.getAndIncrement(), layer, name, op, start, end, job, phase)
  }

  def of(op: Int): OpCounters = synchronized(counters.getOrElseUpdate(op, new OpCounters))

  def allSpans: Seq[Span] = synchronized(spanBuf.toList)

  // ---- SparkListener callbacks -------------------------------------------
  private[perfbench] def jobStarted(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(current)
    val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
    jobStart(e.jobId) = (op, phase, e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  private[perfbench] def jobEnded(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (op, phase, t0) =>
      if (op >= 0) {
        val c = of(op)
        if (e.jobResult == JobSucceeded) c.jobs += 1 else c.jobsFailed += 1
        c.jobIntervals += ((t0, e.time.toDouble))
        span("scheduler.job", s"job ${e.jobId}", op, t0, e.time.toDouble, e.jobId, phase)
      }
    }
  }

  private[perfbench] def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val op = stageJob.get(info.stageId).flatMap(jobStart.get).map(_._1).getOrElse(current)
    if (op >= 0) {
      val c = of(op)
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        span("executor.stage", s"stage ${info.stageId}", op, t0.toDouble, t1.toDouble,
          stageJob.getOrElse(info.stageId, -1))
    }
  }

  // ---- QueryExecutionListener callback -----------------------------------
  private object Plans extends AdaptiveSparkPlanHelper

  private[perfbench] def queryDone(qe: QueryExecution): Unit = {
    val op = current
    if (op < 0) return
    val phases = qe.tracker.phases
    def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    val plan: SparkPlan = qe.executedPlan
    val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dataDir)))
    val writes = Plans.collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }
    def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String): Long =
      m.get(k).map(_.value).getOrElse(0L)
    synchronized {
      val c = of(op)
      c.analysisMs += phase("analysis")
      c.optimizationMs += phase("optimization")
      c.planningMs += phase("planning")
      scans.foreach { s =>
        c.scanBytes += metric(s.metrics, "filesSize")
        c.scanRows += metric(s.metrics, "numOutputRows")
      }
      writes.foreach { w =>
        c.filesWritten += metric(w.cmd.metrics, "numFiles")
        c.writeBytes += metric(w.cmd.metrics, "numOutputBytes")
      }
    }
  }

  // ---- StreamingQueryListener callback -----------------------------------
  private[perfbench] def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val op = current
    if (op < 0) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trig = d.getOrElse("triggerExecution", 0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      val c = of(op)
      c.triggerMs += trig.toDouble
      c.addBatchMs += d.getOrElse("addBatch", 0L)
      c.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
      c.walCommitMs += d.getOrElse("walCommit", 0L)
      c.getBatchMs += d.getOrElse("getBatch", 0L)
      c.stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
      span("streaming.trigger", s"${p.name} batch ${p.batchId}", op, start, start + trig)
    }
  }

  /** Resolve parents: stage → job → trigger (when the job started inside
    * one of the op's triggers) or phase → op. */
  def linkSpans(): Seq[Span] = {
    val all = allSpans
    val byOp = all.groupBy(_.op)
    for ((_, spans) <- byOp) {
      val op = spans.find(_.layer == "op")
      val phases = spans.filter(s => s.layer.endsWith(".construct") || s.layer.endsWith(".action"))
      val triggers = spans.filter(_.layer == "streaming.trigger")
      val jobs = spans.filter(_.layer == "scheduler.job")
      val jobById = jobs.map(j => j.job -> j).toMap
      phases.foreach(p => op.foreach(o => p.parent = o.id))
      triggers.foreach { t =>
        t.parent = phases.find(_.layer.endsWith(".construct")).orElse(op).map(_.id).getOrElse(0L)
      }
      jobs.foreach { j =>
        j.parent = triggers.find(t => t.start <= j.start && j.start <= t.end)
          .orElse(phases.find(_.layer.endsWith("." + j.phase)))
          .orElse(op).map(_.id).getOrElse(0L)
      }
      spans.filter(_.layer == "executor.stage").foreach { s =>
        s.parent = jobById.get(s.job).orElse(op).map(_.id).getOrElse(0L)
      }
    }
    all
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}

class SchedulerListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStarted(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnded(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.stageCompleted(e)
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session (including `newSession()`) reports its executions. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.queryDone(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.queryDone(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
class TriggerListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.progress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
