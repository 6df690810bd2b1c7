package graft.tools

import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dev-loop diagnostic: prints, for each named query, every global
  * (empty-partitionSpec) window in the pre-AQE physical plan together
  * with the row count actually flowing into it at the given SF dir —
  * the measurement behind SinglePartitionSweepSpec's allowlist comments
  * (the sweep asserts structure; this prints the two-scale cardinality
  * evidence). Usage: runMain graft.tools.PlanProbe <sfDir> q_a,q_b */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.DevSession.start("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // presence check on the PHYSICAL plan (what the sweep gates on)...
      val physical = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      // ...cardinality measured on the matching OPTIMIZED-logical child
      // (a detached physical subplan can't execute; a logical one can)
      val logical = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w.child
        case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
            if w.partitionSpec.isEmpty => w.child
      }
      if (physical.isEmpty) println(s"[probe] $n: no global window")
      else logical.zipWithIndex.foreach { case (child, i) =>
        val rows = try {
          org.apache.spark.sql.GraftBridge.ofRows(spark, child).count()
        } catch { case _: Throwable => -1L }
        println(s"[probe] $n window#$i childRows=$rows " +
          s"child=${child.getClass.getSimpleName}")
      }
      graft.DevSession.dropPinnedBlocks(spark)
    }
    spark.stop()
  }
}
