package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one traced window of work: one query execution or one
  * shared build. The load is closed loop with one client and the
  * listener bus is drained before a window closes, so every event
  * delivered while a window is open belongs to it. */
final class Window {
  var jobs, builderJobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWriteB, shuffleReadB, fetchWaitMs, spillB = 0L
  var inputB, outputB = 0L
  var planMs, executions = 0L
  var batches, startupMs, addBatchMs, walMs, streamPlanMs = 0L
  var latestOffsetMs, stateCommitMs = 0L
  val batchMs = ArrayBuffer[Long]()
  /** (phase, start epoch ms, end epoch ms) of each Spark job. */
  val jobSpans = ArrayBuffer[(String, Long, Long)]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "builder_jobs" -> builderJobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_wait_ms" -> taskWaitMs, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "deser_ms" -> deserMs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "fetch_wait_ms" -> fetchWaitMs, "spill_b" -> spillB,
    "input_b" -> inputB, "output_b" -> outputB,
    "plan_ms" -> planMs, "executions" -> executions,
    "batches" -> batches, "batch_ms" -> batchMs.toSeq,
    "startup_ms" -> startupMs, "add_batch_ms" -> addBatchMs,
    "wal_ms" -> walMs, "stream_plan_ms" -> streamPlanMs,
    "latest_offset_ms" -> latestOffsetMs,
    "state_commit_ms" -> stateCommitMs)
}

/** Process-wide trace state shared by the listeners Spark instantiates
  * from the static listener confs and by the benchmark's own loop. */
object Trace {
  /** Local property naming the phase (builder, execute, silver) a job
    * was submitted from; Spark copies it onto each job-start event. */
  val PhaseKey = "graftbench.phase"

  private var current: Option[Window] = None
  private val jobStarts = scala.collection.mutable.Map[Int, (String, Long)]()
  private val stageSubmitMs = scala.collection.mutable.Map[(Int, Int), Long]()
  private val streamStartMs = scala.collection.mutable.Map[java.util.UUID, Long]()

  def open(): Window = synchronized {
    val w = new Window
    current = Some(w)
    w
  }

  def close(): Unit = synchronized { current = None }

  private[graftbench] def record(f: Window => Unit): Unit = synchronized {
    current.foreach(f)
  }

  private[graftbench] def jobStart(id: Int, phase: String, ms: Long): Unit =
    synchronized {
      if (current.isDefined) jobStarts(id) = (phase, ms)
      current.foreach { w =>
        w.jobs += 1
        if (phase == "builder") w.builderJobs += 1
      }
    }

  private[graftbench] def jobEnd(id: Int, ms: Long): Unit = synchronized {
    jobStarts.remove(id).foreach { case (phase, t0) =>
      current.foreach(_.jobSpans += ((phase, t0, ms)))
    }
  }

  private[graftbench] def stageSubmitted(key: (Int, Int), ms: Long): Unit =
    synchronized {
      if (current.isDefined) stageSubmitMs(key) = ms
      current.foreach(_.stages += 1)
    }

  private[graftbench] def taskWait(key: (Int, Int), launchMs: Long): Long =
    synchronized {
      stageSubmitMs.get(key).fold(0L)(s => math.max(0L, launchMs - s))
    }

  private[graftbench] def stageDone(key: (Int, Int)): Unit =
    synchronized { stageSubmitMs.remove(key); () }

  private[graftbench] def streamStarted(id: java.util.UUID, ms: Long): Unit =
    synchronized { if (current.isDefined) streamStartMs(id) = ms }

  private[graftbench] def firstBatch(id: java.util.UUID, ms: Long): Unit =
    synchronized {
      streamStartMs.remove(id).foreach { t0 =>
        current.foreach(_.startupMs += math.max(0L, ms - t0))
      }
    }

  private[graftbench] def epochMs(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli
}

/** Scheduler, task, shuffle and IO counters; registered through
  * `spark.extraListeners`. */
class SchedulerTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.PhaseKey))).getOrElse("other")
    Trace.jobStart(e.jobId, phase, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    Trace.stageSubmitted((si.stageId, si.attemptNumber()),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.stageDone((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val wait = Trace.taskWait((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
    val m = e.taskMetrics
    Trace.record { w =>
      w.tasks += 1
      if (e.taskInfo.failed) w.failedTasks += 1
      w.taskWaitMs += wait
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.deserMs += m.executorDeserializeTime
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillB += m.diskBytesSpilled
        w.inputB += m.inputMetrics.bytesRead
        w.outputB += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Catalyst phase times of every executed plan; registered through
  * `spark.sql.queryExecutionListeners`. */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    count(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    count(qe)
  private def count(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    Trace.record { w => w.executions += 1; w.planMs += ms }
  }
}

/** Micro-batch phase times; registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, so every session
  * (including `newSession()` children) reports here. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Trace.streamStarted(e.runId, Trace.epochMs(e.timestamp))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    Trace.firstBatch(p.runId, Trace.epochMs(p.timestamp))
    val stateMs = Option(p.stateOperators).map(_.map(_.commitTimeMs).sum).getOrElse(0L)
    Trace.record { w =>
      w.batches += 1
      w.batchMs += ms("triggerExecution")
      w.addBatchMs += ms("addBatch")
      w.walMs += ms("walCommit") + ms("commitOffsets")
      w.streamPlanMs += ms("queryPlanning")
      w.latestOffsetMs += ms("latestOffset")
      w.stateCommitMs += stateMs
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
