package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: one
  * epoch anchor plus the monotonic clock, so harness spans and Spark's
  * epoch-millisecond event times share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a named interval with a parent, in epoch milliseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double)

/** In-memory span store for the harness spans, opened and closed around
  * calls into the library. `perfbench/metrics.py` adds the Spark job, stage
  * and trigger spans from the listener's records. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def add(parent: Int, layer: String, name: String, start: Double, end: Double): Unit =
    synchronized {
      done += Span(next, parent, layer, name, start, end); next += 1
    }
  /** Reserves an id for a span whose end is not known yet. */
  def open(): Int = synchronized { val id = next; next += 1; id }
  def close(id: Int, parent: Int, layer: String, name: String, start: Double): Double =
    synchronized {
      val end = Clock.ms()
      done += Span(id, parent, layer, name, start, end); end
    }
  def all: Seq[Span] = synchronized(done.toSeq.sortBy(_.start))
}

/** Per-task numbers kept for each stage. */
final class StageRec(val id: Int, val attempt: Int) {
  var submitted = 0.0
  var completed = 0.0
  var taskMs = mutable.ArrayBuffer.empty[Double]
  var cpuMs, gcMs, deserMs = 0.0
  var shWriteBytes, shReadBytes, spillBytes = 0.0
  var shWriteMs, fetchWaitMs = 0.0
  var inBytes, inRecords, outBytes, outRecords = 0.0
}

final class JobRec(val id: Int, val start: Double) {
  var end = 0.0
  var ok = true
  var stages: Seq[Int] = Nil
}

/** One streaming trigger, from a QueryProgressEvent. */
final case class Trigger(runId: String, batchId: Long, start: Double,
    durations: Map[String, Double], inputRows: Long, stateRows: Long,
    stateCommitMs: Double, stateMemBytes: Long)

/** The one listener on the shared bus. Untraced runs keep only streaming
  * progress (Spark posts those events anyway); traced runs also keep jobs,
  * stages and tasks. Progress events of isolated sessions (`newSession()`)
  * reach this listener because all sessions share the context's bus. */
final class BusListener(traced: Boolean) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  private def stage(id: Int, attempt: Int) =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: QueryProgressEvent =>
      val p = e.progress
      val ops = p.stateOperators.toSeq
      triggers.add(Trigger(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.memoryUsedBytes).sum))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val j = new JobRec(e.jobId, e.time.toDouble)
    j.stages = e.stageIds
    jobById.put(e.jobId, j); jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    val j = jobById.get(e.jobId)
    if (j != null) {
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced) {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).submitted =
      i.submissionTime.map(_.toDouble).getOrElse(Clock.ms())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.completed = i.completionTime.map(_.toDouble).getOrElse(Clock.ms())
    if (s.submitted == 0.0) s.submitted = i.submissionTime.map(_.toDouble).getOrElse(s.completed)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.taskMs += m.executorRunTime.toDouble
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime.toDouble
        s.deserMs += m.executorDeserializeTime.toDouble
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten.toDouble
        s.shWriteMs += m.shuffleWriteMetrics.writeTime / 1e6
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead.toDouble
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime.toDouble
        s.spillBytes += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        s.inBytes += m.inputMetrics.bytesRead.toDouble
        s.inRecords += m.inputMetrics.recordsRead.toDouble
        s.outBytes += m.outputMetrics.bytesWritten.toDouble
        s.outRecords += m.outputMetrics.recordsWritten.toDouble
      }
    }
  }
}

/** Catalyst phase times of every query execution, in every session: the
  * harness registers this class through the static
  * `spark.sql.queryExecutionListeners` conf, which each new session reads. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PhaseListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PhaseListener.record(qe)
}

object PhaseListener {
  /** (start of the first phase, analysis ms, optimization ms, planning ms). */
  val phases = new ConcurrentLinkedQueue[(Double, Double, Double, Double)]()
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases.add((ph.values.map(_.startTimeMs).min.toDouble,
        d("analysis"), d("optimization"), d("planning")))
    }
  }
}
