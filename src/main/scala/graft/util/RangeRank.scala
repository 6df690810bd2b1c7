package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint

/** Scale-safe global ranking: the DataFrame analogue of RDD
  * `zipWithIndex`, replacing `row_number().over(Window.orderBy(...))`
  * — which plans as an `Exchange SinglePartition` + one-task sort, the
  * classic 100×-scale killer — with
  *
  *   1. `repartitionByRange` on the rank keys (sampled contiguous range
  *      partitions, each holding a disjoint key interval), pinned with
  *      `localCheckpoint` so the sampled boundaries are decided ONCE
  *      and shared by both consumers below (re-planning the exchange
  *      could re-sample different boundaries per job),
  *   2. one bounded aggregate: per-partition row counts, P = partition
  *      count rows collected to the driver and turned into cumulative
  *      offsets (the repo's bounded-cardinality collect discipline),
  *   3. a per-partition `row_number` (each partition sorts only its own
  *      rows) plus a broadcast join against the P-row offset table to
  *      lift local ranks to global ones.
  *
  * The result is identical to the single-partition window for any
  * DISTINCT key tuple (range boundaries land between key tuples, and
  * contiguity makes local-rank + offset == global rank), and no
  * operator in the plan — window included — sees more than one
  * partition's rows.
  *
  * Ties: like `Window.orderBy`, ties across a partition boundary would
  * rank arbitrarily — callers must pass a key set that is unique per
  * row (append a row id, as every call site here does).
  */
object RangeRank {

  /** [[withGlobalRank]] plus the total row count (free — the sum of the
    * already-collected per-partition counts). */
  def withGlobalRankAndTotal(df: DataFrame, rankCol: String,
      numPartitions: Int, keys: Column*): (DataFrame, Long) = {
    val ranged = df.repartitionByRange(numPartitions, keys: _*)
      .withColumn("__rr_pid", spark_partition_id())
      .transform(localCheckpoint)
    val counts = ranged.groupBy("__rr_pid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val spark = df.sparkSession
    import spark.implicits._
    val offs = offsets.toSeq.toDF("__rr_pid", "__rr_off")
    val ranked = ranged
      .withColumn("__rr_local", row_number().over(
        Window.partitionBy("__rr_pid").orderBy(keys: _*)))
      .join(broadcast(offs), Seq("__rr_pid"))
      .withColumn(rankCol, col("__rr_off") + col("__rr_local"))
      .drop("__rr_pid", "__rr_local", "__rr_off")
    (ranked, counts.map(_._2).sum)
  }

  /** `df` plus column `rankCol` = 1-based global row number by `keys`
    * ascending (pass `.desc` columns for descending). `numPartitions`
    * bounds the per-partition sort size; at cluster scale size it so a
    * partition fits one task. */
  def withGlobalRank(df: DataFrame, rankCol: String, numPartitions: Int,
      keys: Column*): DataFrame =
    withGlobalRankAndTotal(df, rankCol, numPartitions, keys: _*)._1

  /** `df` plus column `tileCol` = `ntile(buckets)` over the total order
    * by `keys` — same values SQL `ntile` assigns (the first `total %
    * buckets` buckets get the extra row), but derived arithmetically
    * from the scale-safe global rank instead of a single-partition
    * window: bucket boundaries are pure driver arithmetic on (rank,
    * total), so the plan stays fully parallel. */
  def withGlobalNtile(df: DataFrame, tileCol: String, buckets: Int,
      numPartitions: Int, keys: Column*): DataFrame = {
    val (ranked, total) = withGlobalRankAndTotal(
      df, "__rr_rn", numPartitions, keys: _*)
    val q = total / buckets
    val r = total % buckets
    val threshold = r * (q + 1) // ranks in the (q+1)-sized buckets
    // integer `div`, not `/` (double division truncated back to long
    // could misassign a boundary row once ranks outgrow double precision)
    val tile =
      if (q == 0) col("__rr_rn").cast("int") // fewer rows than buckets
      else expr(s"""CAST(CASE WHEN __rr_rn <= $threshold
        THEN (__rr_rn - 1) div ${q + 1}
        ELSE $r + (__rr_rn - 1 - $threshold) div $q END AS INT) + 1""")
    ranked.withColumn(tileCol, tile).drop("__rr_rn")
  }

  /** Per-partition aggregate `totals(__rr_pid, __t_<v>...)` lifted to
    * EXCLUSIVE prefix combines per pid via a tiny self-join (P² rows,
    * P = partition count — trivial, and every combine runs through
    * Spark's own aggregate semantics, so ordering/null behavior can
    * never diverge from the window function being distributed; the
    * first pid gets nulls from the left join, exactly like an empty
    * frame). */
  private def prefixOffsets(totals: DataFrame,
      combine: (String, String) => Column, valueCols: Seq[String]): DataFrame = {
    val left = totals.select(col("__rr_pid") +:
      valueCols.map(v => col(s"__t_$v")): _*)
    val right = totals.select(col("__rr_pid").as("__rr_pid_b") +:
      valueCols.map(v => col(s"__t_$v").as(s"__tb_$v")): _*)
    left.join(right, col("__rr_pid_b") < col("__rr_pid"), "left")
      .groupBy("__rr_pid")
      .agg(combine(s"__tb_${valueCols.head}", s"__rr_off_${valueCols.head}"),
        valueCols.drop(1).map(v => combine(s"__tb_$v", s"__rr_off_$v")): _*)
  }

  /** `df` plus, for each `(valueCol, outCol)` pair, a column `outCol` =
    * running SUM of long-typed `valueCol` over the total order by
    * `keys` (inclusive frame — the `UNBOUNDED PRECEDING AND CURRENT
    * ROW` shape): per-partition running sums lifted by a broadcast of
    * per-partition total prefixes. All scans share ONE range exchange
    * and one offset pass. Null semantics match the naive window: a sum
    * whose whole preceding frame is null is null, and null values are
    * skipped. Same plan discipline as [[withGlobalRank]] — no
    * single-partition stage. */
  def withGlobalCumSums(df: DataFrame, cols: Seq[(String, String)],
      numPartitions: Int, keys: Column*): DataFrame = {
    val ranged = df.repartitionByRange(numPartitions, keys: _*)
      .withColumn("__rr_pid", spark_partition_id())
      .transform(localCheckpoint)
    val totals = ranged.groupBy("__rr_pid")
      .agg(sum(col(cols.head._1)).as(s"__t_${cols.head._1}"),
        cols.drop(1).map { case (v, _) => sum(col(v)).as(s"__t_$v") }: _*)
    val offs = prefixOffsets(totals,
      (in, out) => sum(col(in)).as(out), cols.map(_._1))
    val win = Window.partitionBy("__rr_pid").orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val locals = cols.foldLeft(ranged) { case (d, (v, _)) =>
      d.withColumn(s"__rr_loc_$v", sum(col(v)).over(win)) }
    val joined = locals.join(broadcast(offs), Seq("__rr_pid"))
    val out = cols.foldLeft(joined) { case (d, (v, o)) =>
      // null only when BOTH sides are null (empty/all-null global frame)
      d.withColumn(o,
        when(col(s"__rr_loc_$v").isNull && col(s"__rr_off_$v").isNull,
          lit(null))
          .otherwise(coalesce(col(s"__rr_loc_$v"), lit(0L)) +
            coalesce(col(s"__rr_off_$v"), lit(0L)))) }
    out.drop("__rr_pid")
      .drop(cols.flatMap { case (v, _) =>
        Seq(s"__rr_loc_$v", s"__rr_off_$v") }: _*)
  }

  /** Single-column convenience over [[withGlobalCumSums]]. */
  def withGlobalCumSum(df: DataFrame, outCol: String, valueCol: String,
      numPartitions: Int, keys: Column*): DataFrame =
    withGlobalCumSums(df, Seq(valueCol -> outCol), numPartitions, keys: _*)

  /** `df` plus column `outCol` = running MAX of `valueCol` over the
    * total order by `keys`, with the frame ending at `frameEnd` rows
    * from the current one (0 = inclusive, -1 = strictly-preceding, the
    * watermark shape). Null semantics match the global window exactly:
    * rows whose frame is empty (the first row under -1) get null —
    * `greatest` skips nulls, and the partition-prefix offset is null
    * for the first range partition. Works for any type Spark can
    * max(): the prefix combine is itself a Spark `max` over the P-row
    * per-partition maxima ([[prefixOffsets]]), so its ordering can
    * never diverge from the window function being distributed. */
  def withGlobalCumMax(df: DataFrame, outCol: String, valueCol: String,
      frameEnd: Int, numPartitions: Int, keys: Column*): DataFrame = {
    require(frameEnd == 0 || frameEnd == -1, s"frameEnd $frameEnd")
    val ranged = df.repartitionByRange(numPartitions, keys: _*)
      .withColumn("__rr_pid", spark_partition_id())
      .transform(localCheckpoint)
    val totals = ranged.groupBy("__rr_pid")
      .agg(max(col(valueCol)).as(s"__t_$valueCol"))
    val offs = prefixOffsets(totals,
      (in, out) => max(col(in)).as(out), Seq(valueCol))
    ranged
      .withColumn("__rr_local", max(col(valueCol)).over(
        Window.partitionBy("__rr_pid").orderBy(keys: _*)
          .rowsBetween(Window.unboundedPreceding, frameEnd)))
      .join(broadcast(offs), Seq("__rr_pid"))
      .withColumn(outCol,
        greatest(col("__rr_local"), col(s"__rr_off_$valueCol")))
      .drop("__rr_pid", "__rr_local", s"__rr_off_$valueCol")
  }
}
