package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Blocking Spark actions as the engine reports them (public
  * QueryExecutionListener): one entry per completed action, with its
  * duration. Entries arrive on the listener bus, so readers drain the bus
  * first (`Ctx.drainBus`); `take()` hands over everything since the last
  * take.
  */
final class ActionLog extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[(String, Double, Boolean)]

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    synchronized { buf += ((funcName, durationNs / 1e9, true)) }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    synchronized { buf += ((funcName, Double.NaN, false)) }

  def take(): Seq[(String, Double, Boolean)] = synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}

/** Latency of every Spark job, from the scheduler's own timestamps on
  * its job start and end events (taken when the scheduler posts them, so
  * the listener bus's delivery delay does not enter). `take()` works like
  * ActionLog's.
  */
final class JobLog extends SparkListener {
  private val started = mutable.Map.empty[Int, Long]
  private val buf = mutable.ArrayBuffer.empty[(Double, Boolean)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { started(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { t0 =>
      buf += (((e.time - t0) / 1e3, e.jobResult == JobSucceeded))
    }
  }

  def take(): Seq[(Double, Boolean)] = synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}

/** Micro-batch progress of streaming queries (public
  * StreamingQueryListener), kept whole for the result file.
  */
final class ProgressLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 || p.stateOperators.nonEmpty) synchronized {
      val d = p.durationMs
      def ms(k: String): Double =
        if (d.containsKey(k)) d.get(k).longValue / 1000.0 else 0.0
      val ops = p.stateOperators.toSeq
      batches += Map(
        "run_id" -> p.runId.toString,
        "batch_id" -> p.batchId,
        "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
        "input_rows" -> p.numInputRows,
        "trigger_s" -> ms("triggerExecution"),
        "add_batch_s" -> ms("addBatch"),
        "wal_commit_s" -> ms("walCommit"),
        "commit_s" -> ms("commitOffsets"),
        "planning_s" -> ms("queryPlanning"),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "processed_rows_per_s" -> p.processedRowsPerSecond)
    }
  }
}

/** Jobs, stages and task counters of traced operations (public
  * SparkListener). Jobs are charged to the operation whose id was set as
  * the Spark job group before the call; stages to the job that submitted
  * them. Everything stays in memory until the result file is written.
  */
final class Tracer extends SparkListener {
  private final class Stage(val id: Int, val job: Int) {
    var submitMs = 0L
    var endMs = 0L
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var fetchWaitMs = 0L
    var inRows = 0L
    var inBytes = 0L
    var shWrite = 0L
    var shRead = 0L
    var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "end_ms" -> e.time, "ok" -> true)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(id, stageJob.getOrElse(id, -1)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.endMs = i.completionTime.getOrElse(s.submitMs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed || info.killed) s.failed += 1
    s.durations += info.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      // the Spark UI's definition: wall time the task spent neither
      // deserializing, running, serializing its result nor being fetched
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
         else 0L))
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def dump(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.values.map { s =>
        val d = s.durations.sorted
        Map("id" -> s.id, "job" -> s.job, "start_ms" -> s.submitMs,
          "end_ms" -> s.endMs, "tasks" -> s.tasks, "failed" -> s.failed,
          "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
          "gc_s" -> s.gcMs / 1e3, "sched_delay_s" -> s.schedDelayMs / 1e3,
          "fetch_wait_s" -> s.fetchWaitMs / 1e3, "input_rows" -> s.inRows,
          "input_bytes" -> s.inBytes, "shuffle_write_bytes" -> s.shWrite,
          "shuffle_read_bytes" -> s.shRead, "spill_bytes" -> s.spill,
          "task_max_s" -> (if (d.isEmpty) 0.0 else d.last / 1e3),
          "task_median_s" ->
            (if (d.isEmpty) 0.0 else d((d.length - 1) / 2) / 1e3))
      }.toList)
  }
}
