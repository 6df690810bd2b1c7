package org.apache.spark.sql.graft

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Extraction, JValue}

/** The engine's one recorder of where a query's or a commit's time
  * goes. Around a block it registers one listener — a SparkListener
  * and a QueryExecutionListener in one object — and returns a
  * [[Trace.Report]]: every job (split into jobs started while the
  * DataFrame was built and jobs started by the final action) with its
  * wall time, task time, task count and call site; every completed
  * stage with its rows read, shuffle and spill bytes; Catalyst's
  * planning phase times; and the commit spans the storage layer posts
  * through [[Trace.span]].
  *
  * It lives in this package because it drains the listener bus
  * (`waitUntilEmpty`, package-private to Spark) around the block, so a
  * report holds every event of the block and none from before. Jobs
  * are attributed by time, not by job group: the block is assumed to
  * be the only work on the context, which also covers jobs that
  * engine code submits from other threads. */
object Trace {

  final case class Job(id: Int, callSite: String, startMs: Long,
      endMs: Long, inBuild: Boolean, tasks: Int, taskMs: Long) {
    def wallMs: Long = endMs - startMs
    /** The eager job of a barrier, which [[Checkpoint.localCheckpoint]]
      * labels with this prefix in either of its modes. */
    def checkpoint: Boolean = callSite.startsWith("localCheckpoint at ")
  }

  /** One completed stage attempt; `rowsRead` counts scan and shuffle
    * input rows. */
  final case class Stage(id: Int, job: Int, name: String, tasks: Int,
      rowsRead: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long)

  /** Catalyst's phase times for one executed plan; `func` is the
    * action or command that ran it. */
  final case class Planning(func: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)

  /** One phase of engine work, e.g. `delete:writeTmp`, with the fields
    * its body noted (see [[note]]). */
  final case class Span(label: String, startMs: Long, endMs: Long,
      fields: Map[String, String]) {
    def ms: Long = endMs - startMs
  }

  final case class Report(startMs: Long, endMs: Long, buildMs: Double,
      actionMs: Double, jobs: Seq[Job], stages: Seq[Stage],
      plans: Seq[Planning], spans: Seq[Span]) {
    def buildJobs: Seq[Job] = jobs.filter(_.inBuild)
    def actionJobs: Seq[Job] = jobs.filterNot(_.inBuild)
    def checkpointJobs: Seq[Job] = jobs.filter(_.checkpoint)
    def singleTaskStages: Seq[Stage] = stages.filter(_.tasks == 1)

    /** Wall time in which no job ran: driver-side planning, manifest
      * folds, file-system calls and scheduling between jobs. */
    def driverGapMs: Long = {
      var covered = 0L
      var last = startMs
      jobs.sortBy(_.startMs).foreach { j =>
        val to = math.min(j.endMs, endMs)
        covered += math.max(0L, to - math.max(j.startMs, last))
        last = math.max(last, to)
      }
      endMs - startMs - covered
    }

    def toJson: JValue = {
      def s(ms: Double) = math.rint(ms) / 1000
      Extraction.decompose(ListMap(
        "wall_s" -> s(buildMs + actionMs), "build_s" -> s(buildMs),
        "action_s" -> s(actionMs), "build_jobs" -> buildJobs.size,
        "action_jobs" -> actionJobs.size,
        "checkpoint_jobs" -> checkpointJobs.size,
        "task_s" -> s(jobs.map(_.taskMs).sum.toDouble),
        "driver_gap_s" -> s(driverGapMs.toDouble),
        "shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum,
        "shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> stages.map(_.spillBytes).sum,
        "plan_ms" -> ListMap("analysis" -> plans.map(_.analysisMs).sum,
          "optimization" -> plans.map(_.optimizationMs).sum,
          "planning" -> plans.map(_.planningMs).sum),
        "single_task_stages" -> singleTaskStages.map(st => ListMap(
          "stage" -> st.id, "job" -> st.job, "rows" -> st.rowsRead,
          "name" -> st.name)),
        "jobs" -> jobs.map(j => ListMap("id" -> j.id,
          "phase" -> (if (j.inBuild) "build" else "action"),
          "at_ms" -> (j.startMs - startMs), "wall_ms" -> j.wallMs,
          "task_ms" -> j.taskMs, "tasks" -> j.tasks,
          "call_site" -> j.callSite)),
        "spans" -> spans.map(sp => ListMap("label" -> sp.label,
          "at_ms" -> (sp.startMs - startMs), "ms" -> sp.ms) ++ sp.fields))
      )(DefaultFormats)
    }
  }

  /** Times `f` as the span `label` and posts it to the listener bus of
    * the active context when `f` ends, so a recorder open on another
    * thread sees it. Costs one small event per span. */
  def span[T](label: String)(f: => T): T = {
    val fields = ArrayBuffer.empty[(String, String)]
    open.set(fields :: open.get)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val span = Span(label, t0, System.currentTimeMillis(), fields.toMap)
      open.set(open.get.tail)
      SparkContext.getActive.foreach(_.listenerBus.post(SpanEnd(span)))
    }
  }

  /** Adds fields to the innermost span open on this thread (a no-op
    * outside any span). */
  def note(fields: (String, Any)*): Unit =
    open.get.headOption.foreach(_ ++= fields.map { case (k, v) => k -> v.toString })

  private val open = ThreadLocal.withInitial[List[ArrayBuffer[(String, String)]]](() => Nil)

  private final case class SpanEnd(span: Span) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  /** Traces `build`, which makes the DataFrame (running whatever jobs
    * that takes), then `action` on its result. */
  def query(spark: SparkSession)(build: => DataFrame)(action: DataFrame => Any): Report =
    record(spark)(build)(action)._2

  /** Traces a block; all of its jobs count as build jobs. */
  def apply[T](spark: SparkSession)(body: => T): (T, Report) =
    record(spark)(body)(_ => ())

  /** The number of jobs a block starts. */
  def jobCount[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, report) = apply(spark)(body)
    (out, report.jobs.size)
  }

  private def record[T](spark: SparkSession)(build: => T)(
      action: T => Any): (T, Report) = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    try {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val out = build
      val n1 = System.nanoTime()
      // every build job has been seen once the bus is drained
      bus.waitUntilEmpty()
      r.building = false
      val n2 = System.nanoTime()
      action(out)
      val n3 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      bus.waitUntilEmpty()
      (out, r.report(t0, t1, (n1 - n0) / 1e6, (n3 - n2) / 1e6))
    } finally {
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
  }

  private final class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var building = true
    private val jobs = ArrayBuffer.empty[Job]
    private val running = collection.mutable.Map.empty[Int, Job]
    private val stageJob = collection.mutable.Map.empty[Int, Int]
    private val stages = ArrayBuffer.empty[Stage]
    private val plans = ArrayBuffer.empty[Planning]
    private val spans = ArrayBuffer.empty[Span]

    def report(t0: Long, t1: Long, buildMs: Double, actionMs: Double): Report =
      synchronized {
        Report(t0, t1, buildMs, actionMs, jobs.sortBy(_.id).toList,
          stages.toList, plans.toList, spans.sortBy(_.startMs).toList)
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage (highest id) is named after the job's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      running(e.jobId) = Job(e.jobId, site, e.time, e.time, building, 0, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val job = stageJob.getOrElse(s.stageId, -1)
        Option(s.taskMetrics).foreach { m =>
          val read = m.shuffleReadMetrics
          stages += Stage(s.stageId, job, s.name, s.numTasks,
            m.inputMetrics.recordsRead + read.recordsRead,
            read.remoteBytesRead + read.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
          running.get(job).foreach(j => running(job) = j.copy(
            tasks = j.tasks + s.numTasks, taskMs = j.taskMs + m.executorRunTime))
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case SpanEnd(s) => synchronized { spans += s }
      case _ => ()
    }

    private def planned(func: String, qe: QueryExecution): Unit = synchronized {
      def ms(k: String) = qe.tracker.phases.get(k).map(_.durationMs).getOrElse(0L)
      plans += Planning(func, ms("analysis"), ms("optimization"), ms("planning"))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      planned(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      planned(func, qe)
  }
}
