package graft

import org.apache.spark.sql.graft.Trace
import graft.sources.{KeyRange, SnapshotLog}

/** The trace recorder against work whose shape is known: a commit's
  * spans and the job its write runs, and a query's build and action
  * jobs. */
class TraceSpec extends SparkSpec {

  test("a range delete emits its commit spans once each, in order, " +
    "with the parquet write inside writeTmp") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_trace_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 5L).map(k => (k, "x", k * 10)).toDF("k", "part", "v")
      .coalesce(1), "part")
    t.commitAppend((6L to 10L).map(k => (k, "x", k * 10)).toDF("k", "part", "v")
      .coalesce(1), "part")
    val (_, report) = Trace(spark)(
      t.commitDeleteRange(KeyRange.Longs("k", 1L, 3L)))
    val spans = report.spans.filter(_.label.startsWith("delete:"))
    assert(spans.map(_.label) ==
      Seq("delete:writeTmp", "delete:adopt", "delete:stats+publish"),
      spans.mkString("; "))
    spans.zip(spans.tail).foreach { case (a, b) =>
      assert(a.endMs <= b.startMs, s"$a overlaps $b")
    }
    val writeTmp = spans.head
    assert(writeTmp.fields.keySet == Set("est", "dist"), writeTmp.fields)
    val writes = report.jobs.filter(_.callSite.startsWith("parquet at "))
    assert(writes.size == 1, report.jobs.mkString("; "))
    assert(writes.forall(j =>
      j.startMs >= writeTmp.startMs && j.endMs <= writeTmp.endMs),
      s"$writes outside $writeTmp")
    assert(t.asOf(t.version).count() == 7)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("q_tpch_q11_important_stock: one checkpoint job while building, " +
    "then the action's jobs") {
    val report = Trace.query(spark)(q("q_tpch_q11_important_stock"))(_.count())
    val checkpoints = report.checkpointJobs
    assert(checkpoints.size == 1 && checkpoints.forall(_.inBuild),
      report.jobs.mkString("; "))
    assert(checkpoints.head.callSite.startsWith("localCheckpoint at TpchFinal.scala"))
    // counts a plain SparkListener observed for this query at sf0.001
    assert(report.buildJobs.size == 4, report.buildJobs.mkString("; "))
    assert(report.actionJobs.size == 4, report.actionJobs.mkString("; "))
    assert(report.plans.exists(_.func == "count"))
    DevSession.dropPinnedBlocks(spark)
  }

  test("q_pagerank: every checkpoint job names its operator file") {
    // a barrier's job is labelled by the frame that placed it, never
    // by the barrier's own file
    val report = Trace.query(spark)(q("q_pagerank"))(_.count())
    val checkpoints = report.checkpointJobs
    assert(checkpoints.nonEmpty, report.jobs.mkString("; "))
    val site = """localCheckpoint at (\w+\.scala):\d+""".r
    checkpoints.foreach { j =>
      j.callSite match {
        case site(file) => assert(file != "Checkpoint.scala", j.callSite)
        case other => fail(s"not a barrier label: $other")
      }
    }
    DevSession.dropPinnedBlocks(spark)
  }

  test("driver sampler credits the graft frame below QueryExecution wrappers") {
    def frame(cls: String, method: String) =
      new StackTraceElement(cls, method, "X.scala", 1)
    val qe = "org.apache.spark.sql.execution.QueryExecution"
    val waiting = Array(
      frame("jdk.internal.misc.Unsafe", "park"),
      frame("org.apache.spark.scheduler.DAGScheduler", "runJob"),
      frame(qe + "$", "withInternalError"),
      frame(qe + "$$Lambda$3375/0x00007f2e80ef46e8", "apply"),
      frame(qe, "$anonfun$lazyToRdd$1"),
      frame(qe, "toRdd"),
      frame(qe, "$anonfun$eagerlyExecuteCommands$2"),
      frame(qe, "org$apache$spark$sql$execution$QueryExecution$$eagerlyExecute$1"),
      frame(qe + "$$anonfun$eagerlyExecuteCommands$3", "applyOrElse"),
      frame("org.apache.spark.sql.catalyst.trees.TreeNode", "transformDownWithPruning"),
      frame("org.apache.spark.sql.classic.Dataset", "count"),
      frame("graft.sources.SnapshotLog$Table", "commitMergeMor"),
      frame("graft.tools.Trace$", "main"))
    assert(tools.Trace.creditedFrame(waiting).map(_.getMethodName)
      .contains("commitMergeMor"))
    // planning above the wrapper is still credited to the planner
    val planning = Array(
      frame("org.apache.spark.sql.catalyst.rules.RuleExecutor", "execute"),
      frame(qe + "$", "withInternalError"),
      frame("graft.operators.Dedup$", "q"))
    assert(tools.Trace.creditedFrame(planning).map(_.getMethodName)
      .contains("execute"))
    // a wrapper with no graft frame below keeps the sample
    assert(tools.Trace.creditedFrame(waiting.take(3)).map(_.getMethodName)
      .contains("withInternalError"))
    // a stack with no candidate falls back to its top frame
    assert(tools.Trace.creditedFrame(waiting.take(2)).map(_.getMethodName)
      .contains("park"))
    assert(tools.Trace.creditedFrame(Array.empty).isEmpty)
  }
}
