package graft

import org.apache.spark.sql.SparkSession

/** What the dev mains (Bench, Verify, Explain and the tools) share:
  * their local session, the `SPARK_GRAFT_ONLY` query filter and the
  * per-query block drop. Deployments build their own session
  * (CloneMain honors `SPARK_GRAFT_MASTER`). */
object DevSession {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, UTC and no UI. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Dev loop: `SPARK_GRAFT_ONLY=q_a,q_b` restricts a run to those
    * queries; unset, every query runs. Unknown names fail fast — a
    * misspelling must not silently yield a partial run that reads
    * like a full one. */
  lazy val only: Option[Set[String]] = {
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    names.foreach { n =>
      val unknown = n -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY contains unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    names
  }

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** Drops the blocks that the engine's barriers pinned
    * (`org.apache.spark.sql.graft.Checkpoint.localCheckpoint` with no
    * checkpoint dir set). Locally checkpointed RDDs stay registered in
    * the context until unpersisted, so a 350+-query session
    * accumulates hundreds of block sets, and the storage pressure
    * taxes LATER queries by run order — measured as 2-8× swings on
    * unchanged code (q_label_prop 1.4 ↔ 11.5 s run to run). Queries
    * are independent, so nothing can reuse a prior query's blocks.
    * With a checkpoint dir set, barriers write files there instead
    * and hold no blocks; this leaves those files in place. */
  def dropPinnedBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}
