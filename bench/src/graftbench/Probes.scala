package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's listeners, all on Spark's public listener APIs:
  * one `SparkListener` (jobs, stages, task metrics summed per job),
  * one `QueryExecutionListener` (Catalyst phase intervals from the
  * `QueryPlanningTracker`), and one `StreamingQueryListener` (each
  * trigger's `durationMs` split). Records are kept in memory and read
  * once the session has stopped, which drains the listener bus. */
final class Probes {

  private final class JobAgg(val id: Int, val startMs: Long) {
    var endMs = 0L
    var ok = false
    var stages, tasks = 0
    var runMs, overheadMs, fetchWaitMs, gcMs = 0L
    var cpuNs, inBytes, inRows, outBytes, outRows, shWrite, shRead, spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val other = new ConcurrentLinkedQueue[Json.Raw]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = new JobAgg(e.jobId, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageJob.get(e.stageId); j <- jobs.get(id); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.overheadMs += (e.taskInfo.finishTime - e.taskInfo.launchTime) - m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRows += m.outputMetrics.recordsWritten
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(f: String, qe: QueryExecution, ok: Boolean): Unit =
      other.add(Json.obj("t" -> "plan", "func" -> f, "ok" -> ok,
        "phases" -> Json.obj(qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map {
          case (phase, s) => phase -> Seq(s.startTimeMs, s.endTimeMs)
        }: _*)))
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(f, qe, ok = true)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      other.add(Json.obj("t" -> "trigger", "id" -> p.id.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "durations_ms" -> Json.obj(p.durationMs.asScala.toSeq.sortBy(_._1).map {
          case (k, v) => k -> v.longValue
        }: _*)))
    }
  }

  def records: Seq[Json.Raw] =
    jobs.values.toSeq.map { j =>
      Json.obj("t" -> "job", "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "overhead_ms" -> j.overheadMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "in_bytes" -> j.inBytes, "in_rows" -> j.inRows, "out_bytes" -> j.outBytes,
        "out_rows" -> j.outRows, "shuffle_write" -> j.shWrite, "shuffle_read" -> j.shRead,
        "fetch_wait_ms" -> j.fetchWaitMs, "spill" -> j.spill)
    } ++ other.asScala
}

object Probes {
  /** The streaming listener always; the job and plan listeners only
    * when `full` (the traced run). */
  def register(spark: SparkSession, full: Boolean): Probes = {
    val p = new Probes
    spark.streams.addListener(p.streamListener)
    if (full) {
      spark.sparkContext.addSparkListener(p.sparkListener)
      spark.listenerManager.register(p.planListener)
    }
    p
  }
}
