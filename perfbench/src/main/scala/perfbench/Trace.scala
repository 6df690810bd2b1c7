package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. It registers a
  * SparkListener (jobs and stages), a QueryExecutionListener (Catalyst
  * planning phases) and a StreamingQueryListener (micro-batches) and
  * keeps every event as a plain map until the run writes them out.
  *
  * Ops are serial, so the analysis attributes a job to the op whose span
  * holds the job's start time; that also covers jobs submitted from
  * ClonePipeline's future threads, which carry no job group. Listener
  * events arrive asynchronously, so [[flush]] drains the bus at the end
  * of every op, outside its timed span. */
final class Recorder(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[collection.Map[String, Any]]
  private val stages = ArrayBuffer.empty[collection.Map[String, Any]]
  private val sqls = ArrayBuffer.empty[collection.Map[String, Any]]
  private val batches = ArrayBuffer.empty[collection.Map[String, Any]]
  private val jobStarts = collection.mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val stageJob = collection.mutable.Map.empty[Int, Int]
  // planning listener events carry no timestamp: each is tagged with the
  // op that was open when the bus delivered it (the bus is drained
  // before an op closes)
  @volatile private var currentOp: Int = -1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      // the result stage (highest id) is named after the job's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStarts(e.jobId) = (e.time, site, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, site, stageIds) =>
        jobs += Map("id" -> e.jobId, "start" -> start.toDouble,
          "end" -> e.time.toDouble, "call_site" -> site,
          "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val has = m != null
      def v(f: org.apache.spark.executor.TaskMetrics => Long): Long = if (has) f(m) else 0L
      stages += Map(
        "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> stageJob.getOrElse(s.stageId, -1),
        "name" -> s.name,
        "start" -> s.submissionTime.map(_.toDouble),
        "end" -> s.completionTime.map(_.toDouble),
        "tasks" -> s.numTasks,
        "task_ms" -> v(_.executorRunTime),
        "gc_ms" -> v(_.jvmGCTime),
        "input_bytes" -> v(_.inputMetrics.bytesRead),
        "input_rows" -> v(_.inputMetrics.recordsRead),
        "shuffle_read_bytes" -> v(t => t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> v(_.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> v(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        "output_bytes" -> v(_.outputMetrics.bytesWritten),
        "output_rows" -> v(_.outputMetrics.recordsWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Map[String, Any] = {
      val p = qe.tracker.phases
      def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Recorder.this.synchronized {
        sqls += phases(qe) ++ Map("op" -> currentOp, "func" -> funcName,
          "duration_ms" -> durationNs / 1e6, "ok" -> true)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Recorder.this.synchronized {
        sqls += phases(qe) ++ Map("op" -> currentOp, "func" -> funcName, "ok" -> false)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        if (e.progress.numInputRows > 0 || e.progress.batchDuration > 0)
          batches += Map("op" -> currentOp, "batch_ms" -> e.progress.batchDuration.toDouble,
            "rows" -> e.progress.numInputRows)
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Drains events of earlier untimed work, then tags later ones with
    * `op`; call before the op's timer starts. */
  def open(op: Int): Unit = { flush(); currentOp = op }

  /** Drains the listener bus so every event of the op just run has been
    * recorded; call outside the timed span. */
  def flush(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def close(): Unit = { flush(); currentOp = -1 }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "sqls" -> sqls.toList,
      "batches" -> batches.toList)
  }
}
