package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records every Spark job and every streaming micro-batch while attached.
  *
  * Jobs keep their submission time so that `run.py` can assign each one to
  * the query phase that was running when it was submitted. Micro-batch jobs
  * run on the stream's own thread under their own job group, so the group
  * cannot tell which query started them; the time can.
  */
final class Recorder {

  private final class Job(val id: Int, val submitMs: Long, val loadCall: Boolean) {
    var endMs = -1L
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val batches = new JList[Any]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      // Jobs Spark runs to infer a parquet schema carry the loader as the
      // first frame outside Spark in their first stage's call site.
      val first = e.stageInfos.minByOption(_.stageId)
      val loadCall = first.exists(s =>
        s.details.linesIterator.map(_.trim)
          .find(l => !l.startsWith("org.apache.spark.") && !l.startsWith("scala."))
          .exists(_.startsWith("graft.io.Tables$.load(")))
      jobs(e.jobId) = new Job(e.jobId, e.time, loadCall)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def ms(k: String): Long = d.getOrElse(k, 0L)
      batches.synchronized {
        batches.add(Harness.obj(
          "run_id" -> p.runId.toString,
          "batch_id" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> ms("triggerExecution"),
          "add_batch_ms" -> ms("addBatch"),
          "planning_ms" -> ms("queryPlanning"),
          "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has been delivered, then stops
    * listening. */
  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def jobsJson(): JList[Any] = synchronized {
    Harness.list(jobs.values.map(j => Harness.obj(
      "id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
      "load_call" -> j.loadCall, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
      "task_ms" -> j.taskMs, "shuffle_write" -> j.shuffleWrite,
      "shuffle_read" -> j.shuffleRead, "spill" -> j.spill)))
  }

  def batchesJson(): JList[Any] = batches.synchronized(new JList[Any](batches))
}
