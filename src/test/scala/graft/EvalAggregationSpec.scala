package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotLog

/** Invariants for the eval-aggregation wave and the CHECK-constraint
  * storage contract. */
class EvalAggregationSpec extends SparkSpec {

  test("majority vote: counts reproduce a brute-force recompute") {
    val r = q("q_majority_vote").collect().head
    val samples = Tables(spark, sf).events
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT) div 5000").as("ans"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val byTask = samples.groupBy(_._1)
    var (unan, tied, changed, supSum) = (0L, 0L, 0L, 0L)
    byTask.foreach { case (_, xs) =>
      val counts = xs.groupBy(_._3).map { case (a, g) => a -> g.size }
      val maxc = counts.values.max
      val modes = counts.filter(_._2 == maxc).keys
      val maj = modes.min
      val first = xs.minBy(_._2)._3
      if (maxc == xs.size) unan += 1
      if (modes.size > 1) tied += 1
      if (maj != first) changed += 1
      supSum += maxc.toLong * 1000000L / xs.size
    }
    assert(r.getAs[Long]("n_tasks") == byTask.size)
    assert(r.getAs[Long]("n_unanimous") == unan)
    assert(r.getAs[Long]("n_tied") == tied)
    assert(r.getAs[Long]("n_changed") == changed)
    assert(r.getAs[Long]("mean_support_fp") == supSum / byTask.size)
  }

  test("length-controlled winrate: aggregates reconcile per-bucket") {
    val rows = q("q_length_controlled_winrate").collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("wins_a"),
          r.getAs[Long]("winrate_fp"))).toMap
    val buckets = rows.keys.filter(_ >= 0).toSeq
    assert(buckets.nonEmpty && rows.contains(-1) && rows.contains(-2))
    // raw row: pooled counts and pooled rate
    val (np, wa, _) = rows(-1)
    assert(np == buckets.map(rows(_)._1).sum)
    assert(wa == buckets.map(rows(_)._2).sum)
    assert(rows(-1)._3 == wa * 1000000L / np)
    // controlled row: equal-weight mean of the per-bucket rates
    assert(rows(-2)._3 ==
      buckets.map(rows(_)._3).sum / buckets.size)
    // every rate is a probability in fixed point
    rows.values.foreach { case (_, _, fp) =>
      assert(fp >= 0L && fp <= 1000000L)
    }
  }

  test("paired bootstrap: CI brackets the mean and ranks are sane") {
    val r = q("q_paired_bootstrap").collect().head
    val (lo, hi) = (r.getAs[Long]("ci_lo_ppm"), r.getAs[Long]("ci_hi_ppm"))
    assert(lo <= hi)
    val frac = r.getAs[Long]("frac_a_wins_fp")
    assert(frac >= 0L && frac <= 1000000L)
    // a CI entirely above zero must agree with a near-unanimous win
    // fraction (and vice versa) — the two readouts can't contradict
    if (lo > 0) assert(frac >= 1000000L * 30 / 32)
    if (hi < 0) assert(frac <= 1000000L * 2 / 32)
  }

  test("constraints: every write path validates, drop restores") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_constr_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "x", 10L), (2L, "x", 20L))
      .toDF("k", "part", "v").coalesce(1), "part")
    t.addConstraint("pos_v", "v > 0")
    val bad = Seq((3L, "x", -5L)).toDF("k", "part", "v")
    def bounces(f: => Any): Unit = {
      val ex = intercept[IllegalArgumentException](f)
      assert(ex.getMessage.contains("pos_v"))
    }
    bounces(t.commitAppend(bad, "part"))
    bounces(t.commitMerge(bad, "k"))
    bounces(t.commitApplyChanges(bad.withColumn("__op", lit("U")), "k"))
    bounces {
      t.stageAppend(bad, "part", "audit")
      try t.publishStaged("audit")
      finally t.dropStaged("audit") // clean the rejected branch
    }
    // a tombstone-only CDC batch carries no rows INTO the table: the
    // constraint must not block it even though the batch's data
    // columns are garbage
    t.commitApplyChanges(
      Seq((2L, "x", -1L, "D")).toDF("k", "part", "v", "__op"), "k")
    assert(t.asOf(t.version).count() == 1)
    // registering a constraint the EXISTING data violates is refused
    val ex = intercept[IllegalArgumentException](
      t.addConstraint("big_v", "v > 100"))
    assert(ex.getMessage.contains("big_v"))
    // drop restores writability; the log remembers both events
    t.dropConstraint("pos_v")
    t.commitAppend(bad, "part")
    assert(t.asOf(t.version).count() == 2)
    assert(t.activeConstraints.isEmpty)
    // constraints survive a log checkpoint + vacuum round-trip
    t.addConstraint("pos_k", "k > 0")
    t.checkpointLog(); t.vacuumLog()
    assert(t.activeConstraints == Map("pos_k" -> "k > 0"))
    bounces2(t, Seq((-9L, "x", 1L)).toDF("k", "part", "v"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  private def bounces2(t: SnapshotLog.Table,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val ex = intercept[IllegalArgumentException](
      t.commitAppend(df, "part"))
    assert(ex.getMessage.contains("pos_k"))
  }
}
