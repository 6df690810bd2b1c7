package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset

/** The engine's one barrier: every eager materialization that cuts a
  * plan's lineage goes through [[localCheckpoint]], written
  * `ds.transform(localCheckpoint)` at a call site.
  *
  * Its mode follows the context's checkpoint dir. With none set (the
  * default, and every local run) it is Spark's `localCheckpoint()`:
  * blocks on the executors, so losing an executor fails the job,
  * because the lineage that could rebuild them is gone. With a dir set
  * (`spark.checkpoint.dir` at context start, or `sc.setCheckpointDir`)
  * it is a reliable `checkpoint()` whose files there survive executor
  * loss. Both are eager, so `observe()` metrics and anything else a
  * caller reads off the materializing job behave the same either way.
  * Checkpoint files are not deleted with their DataFrame; a long-lived
  * session that writes many sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * It lives in this package for the job label. Spark names a job by the
  * first stack frame outside its own packages, this one included, and
  * the Spark method that frame called. So the barrier's job reads
  * `localCheckpoint at <operator file>:<line>` in either mode, the
  * prefix that [[Trace.Job.checkpoint]] counts. */
object Checkpoint {
  def localCheckpoint[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()
}
