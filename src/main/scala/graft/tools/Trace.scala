package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.{Trace => Recorder}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{DevSession, SparkEntry}

/** Per-layer trace of named queries: builds each query's DataFrame and
  * counts it under [[org.apache.spark.sql.graft.Trace]], and prints one
  * JSON line per query and rep on stdout — build and action jobs (wall
  * time, task time, tasks, call site), checkpoint jobs, single-task
  * stages, shuffle and spill bytes, planning phases, driver gaps, the
  * snapshot commit spans, and where a sampler of the driver thread
  * found it between jobs. One untimed warm pass over the measured dir
  * runs first, so JIT and codegen stay out of the numbers.
  *
  * Usage: runMain graft.tools.Trace <sfDir> q_a,q_b[,...] [reps] */
object Trace {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = DevSession.start()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).count()
      catch { case e: Throwable =>
        System.err.println(s"[trace] warm pass $n failed: ${e.getMessage}")
      }
      DevSession.dropPinnedBlocks(spark)
    }
    for (n <- names; rep <- 1 to reps) {
      val sampler = new DriverSampler(Thread.currentThread())
      val report = try Recorder.query(spark)(SparkEntry.queries(n)(spark, dir))(_.count())
        finally sampler.stop()
      val head = JObject("query" -> JString(n), "rep" -> JInt(rep),
        "sf_dir" -> JString(dir))
      println(compact(render(head merge report.toJson merge
        JObject("driver_samples" -> sampler.top(15)))))
      DevSession.dropPinnedBlocks(spark)
    }
    spark.stop()
  }

  /** The frame a driver-thread sample is credited to: the topmost
    * engine, parquet or Catalyst frame. When that frame is one of
    * QueryExecution's wrappers — `withInternalError`, the eager command
    * execution and `toRdd`, which sit above every action and command
    * that waits on a job and name none of them — the sample goes to the
    * first graft frame below it instead: the graft call that is
    * waiting. Lambda proxy frames are never credited; their body is the
    * next frame. */
  private[graft] def creditedFrame(st: Array[StackTraceElement]): Option[StackTraceElement] = {
    val i = st.indexWhere { f =>
      val c = f.getClassName
      !c.contains("$$Lambda") && (c.startsWith("graft.") ||
        c.startsWith("org.apache.parquet") || c.contains("catalyst") ||
        c.contains("datasources") || c.contains("QueryExecution") ||
        c.contains("RuleExecutor"))
    }
    if (i < 0) st.headOption
    else {
      val name = st(i).getClassName + "." + st(i).getMethodName
      if (!name.contains("QueryExecution") || !queryExecutionWrappers.exists(name.contains))
        Some(st(i))
      else st.drop(i + 1).find(_.getClassName.startsWith("graft.")).orElse(Some(st(i)))
    }
  }

  private val queryExecutionWrappers =
    Seq("withInternalError", "eagerlyExecute", "toRdd", "ToRdd")

  /** Samples the driver thread every 10 ms and counts its
    * [[creditedFrame]]: the job listener attributes executor time, this
    * attributes the gaps between jobs (planning, manifest folds,
    * file-system calls). */
  private final class DriverSampler(target: Thread) {
    private val counts = new ConcurrentHashMap[String, Integer]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        creditedFrame(target.getStackTrace).foreach { f =>
          val k = s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}"
          counts.merge(k, 1, (a, b) => a + b)
        }
        Thread.sleep(10)
      }
    })
    thread.setDaemon(true)
    thread.start()

    def stop(): Unit = { running = false; thread.join() }

    /** The `n` most-sampled frames with their share of all samples. */
    def top(n: Int): JObject = {
      val all = counts.asScala.toSeq.map { case (k, c) => k -> c.intValue }
      val total = all.map(_._2).sum.max(1)
      JObject(all.sortBy(-_._2).take(n).toList.map { case (k, c) =>
        k -> JDouble(math.rint(c * 1000.0 / total) / 1000)
      })
    }
  }
}
