package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Spatial blocking operators: grid-cell kNN join, bounding-box
  * containment via cell cover, and hierarchical cell rollups.
  *
  * The engine has no geo columns, so points are deterministic
  * pseudo-coordinates derived from keys by multiplicative hashing
  * (public xxhash/Knuth prime constants) — micro-degree BIGINTs, so
  * every coordinate, cell id, and distance is pure integer arithmetic
  * that Spark and DuckDB evaluate identically. Real deployments swap
  * the derivation for actual lat/lon columns; everything downstream
  * (cell keys, neighborhood joins, residual predicates) is unchanged.
  *
  * Scale stance (100 TB):
  *   - All spatial joins are GRID-BLOCKED: points carry a 30°-cell key,
  *     probes explode to their 3×3 cell neighborhood (a 9-row explode,
  *     not a corpus blowup), and the join is EQUI on the cell key with
  *     the exact predicate as residual — never a theta join, so the
  *     planner can hash/sort-merge partition it like any keyed join.
  *     Candidate count per probe is bounded by cell occupancy; a skewed
  *     city-cell is handled the same way as any hot join key (salting /
  *     AQE skew split), orthogonal to the spatial logic.
  *   - Distances stay in squared micro-degrees (BIGINT): max
  *     |Δ| = 3.6e8 squares to 1.3e17 < 2^63, no overflow, no libm trig
  *     whose last-ulp behavior differs across engines. A haversine
  *     re-rank of the top candidates would bolt onto the final bounded
  *     relation, not the corpus scan.
  *   - The rollup re-aggregates cell counts (|occupied cells| rows),
  *     never the points: coarser levels derive from the finest level by
  *     integer division — the mergeable-partial pattern shared with the
  *     HLL/bitmap roll-ups.
  */
object Spatial {

  /** Micro-degree pseudo-coordinates in SHIFTED space: px ∈ [0, 360e6),
    * py ∈ [0, 180e6) — all-positive so `div`/`%` agree across engines.
    * Knuth / xxhash odd multipliers scatter consecutive keys. */
  private def pxExpr(key: String) = s"($key * 2654435761) % 360000000"
  private def pyExpr(key: String) = s"($key * 2246822519) % 180000000"

  private val cell = 30000000L // 30° cells: 12 × 6 grid

  private def withPoint(df: DataFrame, key: String): DataFrame =
    df.withColumn("px", expr(pxExpr(key)))
      .withColumn("py", expr(pyExpr(key)))
      .withColumn("cx", expr(s"px div $cell"))
      .withColumn("cy", expr(s"py div $cell"))

  private def duckPoints(table: String, key: String): String =
    s"""SELECT $key, ${pxExpr(key)} AS px, ${pyExpr(key)} AS py,
       |  (${pxExpr(key)}) // $cell AS cx, (${pyExpr(key)}) // $cell AS cy
       |FROM $table""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- grid-blocked kNN join: each supplier probe finds its 3
    //      nearest customers among the candidates in its 3×3 cell
    //      neighborhood (blocked kNN — the standard scale approximation;
    //      the block radius, not the corpus, bounds each probe's work).
    //      Probe side explodes to 9 candidate cells; the join is equi on
    //      (cx, cy); rank is a per-probe window over the bounded
    //      candidate set.
    QueryDef.checked(
      "q_geo_grid_knn",
      s"""WITH cust AS (${duckPoints("customer", "c_custkey")}),
         |supp AS (${duckPoints("supplier", "s_suppkey")}),
         |probe AS (
         |  SELECT s_suppkey, px, py, cx + dx.d AS qx, cy + dy.d AS qy
         |  FROM supp,
         |    (SELECT unnest([-1, 0, 1]) AS d) dx,
         |    (SELECT unnest([-1, 0, 1]) AS d) dy
         |), cand AS (
         |  SELECT p.s_suppkey, c.c_custkey,
         |    (p.px - c.px) * (p.px - c.px)
         |      + (p.py - c.py) * (p.py - c.py) AS d2
         |  FROM probe p JOIN cust c ON c.cx = p.qx AND c.cy = p.qy
         |)
         |SELECT s_suppkey, CAST(rn AS INTEGER) AS rank, c_custkey, d2
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY s_suppkey
         |    ORDER BY d2, c_custkey) AS rn
         |  FROM cand) r
         |WHERE rn <= 3
         |ORDER BY s_suppkey, rank""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cust = withPoint(t.customer.select("c_custkey"), "c_custkey")
      // no Tables.spread on the probe (r15 regression ×0.77
      // driver-measured, extra Exchange in plans/r15 with no
      // compensating parallelism): the 9-cell explode lands in the
      // cell-join's own shuffle immediately below, which already
      // redistributes the expansion
      val probe = withPoint(t.supplier.select("s_suppkey"), "s_suppkey")
        .select(col("s_suppkey"), col("px"), col("py"),
          explode(expr("sequence(-1L, 1L)")).as("dx"), col("cx"), col("cy"))
        .select(col("s_suppkey"), col("px"), col("py"),
          (col("cx") + col("dx")).as("qx"),
          explode(expr("sequence(-1L, 1L)")).as("dy"), col("cy"))
        .select(col("s_suppkey"), col("px"), col("py"), col("qx"),
          (col("cy") + col("dy")).as("qy"))
      probe
        .join(cust.select(col("c_custkey"), col("px").as("cpx"),
          col("py").as("cpy"), col("cx").as("qx"), col("cy").as("qy")),
          Seq("qx", "qy"))
        .select(col("s_suppkey"), col("c_custkey"),
          ((col("px") - col("cpx")) * (col("px") - col("cpx")) +
            (col("py") - col("cpy")) * (col("py") - col("cpy"))).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("s_suppkey").orderBy(col("d2"), col("c_custkey"))))
        .filter(col("rn") <= 3)
        .select(col("s_suppkey"), col("rn").cast("int").as("rank"),
          col("c_custkey"), col("d2"))
        .orderBy("s_suppkey", "rank")
    },

    // ---- bounding-box containment via cell cover: each region derives
    //      an overlapping query box; the box expands to its covered cell
    //      list (a bounded integer sequence, ≤ 4×3 cells here), the join
    //      is equi on the cell key, and the exact range test rides as a
    //      residual. One point matches at most once because a point has
    //      exactly one cell. This is the scale shape of point-in-polygon
    //      prefilters: cover → equi join → exact residual.
    QueryDef.checked(
      "q_geo_bbox_join",
      s"""WITH cust AS (${duckPoints("customer", "c_custkey")}),
         |box AS (
         |  SELECT r_regionkey,
         |    r_regionkey * 60000000 AS x_lo,
         |    r_regionkey * 60000000 + 90000000 AS x_hi,
         |    r_regionkey * 20000000 AS y_lo,
         |    r_regionkey * 20000000 + 50000000 AS y_hi
         |  FROM region
         |), cover AS (
         |  SELECT b.*, gx.g AS cx, gy.g AS cy
         |  FROM box b,
         |    LATERAL (SELECT unnest(range(b.x_lo // $cell,
         |      (b.x_hi - 1) // $cell + 1)) AS g) gx,
         |    LATERAL (SELECT unnest(range(b.y_lo // $cell,
         |      (b.y_hi - 1) // $cell + 1)) AS g) gy
         |)
         |SELECT v.r_regionkey,
         |  CAST(count(DISTINCT v.cx * 100 + v.cy) AS BIGINT) AS n_cells,
         |  CAST(count(c.c_custkey) AS BIGINT) AS n_points,
         |  coalesce(CAST(sum(c.c_custkey) AS BIGINT), 0) AS point_keysum
         |FROM cover v
         |LEFT JOIN cust c ON c.cx = v.cx AND c.cy = v.cy
         |  AND c.px >= v.x_lo AND c.px < v.x_hi
         |  AND c.py >= v.y_lo AND c.py < v.y_hi
         |GROUP BY v.r_regionkey
         |ORDER BY v.r_regionkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cust = withPoint(t.customer.select("c_custkey"), "c_custkey")
      val cover = t.region.select(col("r_regionkey"))
        .withColumn("x_lo", col("r_regionkey") * 60000000L)
        .withColumn("x_hi", col("r_regionkey") * 60000000L + 90000000L)
        .withColumn("y_lo", col("r_regionkey") * 20000000L)
        .withColumn("y_hi", col("r_regionkey") * 20000000L + 50000000L)
        .withColumn("cx",
          explode(expr(s"sequence(x_lo div $cell, (x_hi - 1) div $cell)")))
        .withColumn("cy",
          explode(expr(s"sequence(y_lo div $cell, (y_hi - 1) div $cell)")))
      cover
        .join(cust.select(col("c_custkey"), col("px"), col("py"),
          col("cx"), col("cy")), Seq("cx", "cy"), "left")
        .withColumn("hit", col("px") >= col("x_lo") && col("px") < col("x_hi")
          && col("py") >= col("y_lo") && col("py") < col("y_hi"))
        .groupBy("r_regionkey")
        .agg(countDistinct(col("cx") * 100 + col("cy")).as("n_cells"),
          count(when(col("hit"), col("c_custkey"))).as("n_points"),
          coalesce(sum(when(col("hit"), col("c_custkey"))), lit(0L))
            .as("point_keysum"))
        .orderBy("r_regionkey")
    },

    // ---- hierarchical cell rollup: point counts at the 30° base grid,
    //      then 2× and 4× coarser levels derived by integer division of
    //      the BASE CELL AGGREGATE (|occupied cells| rows, never the
    //      points) — the mergeable-partial pattern: level L+1 is a pure
    //      re-aggregation of level L, so a 100 TB corpus aggregates once
    //      and every coarser zoom level is a cheap rollup of that.
    QueryDef.checked(
      "q_geo_cell_rollup",
      s"""WITH cust AS (${duckPoints("customer", "c_custkey")}),
         |base AS (
         |  SELECT cx, cy, count(*) AS n FROM cust GROUP BY cx, cy
         |)
         |SELECT level, gx, gy, CAST(sum(n) AS BIGINT) AS n_points FROM (
         |  SELECT 0 AS level, cx AS gx, cy AS gy, n FROM base
         |  UNION ALL
         |  SELECT 1, cx // 2, cy // 2, n FROM base
         |  UNION ALL
         |  SELECT 2, cx // 4, cy // 4, n FROM base
         |) GROUP BY level, gx, gy
         |ORDER BY level, gx, gy""".stripMargin) { (spark, dir) =>
      val base = withPoint(
          Tables(spark, dir).customer.select("c_custkey"), "c_custkey")
        .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
        .transform(localCheckpoint) // three level projections of one aggregate
      val levels = Seq(
        base.select(lit(0).as("level"), col("cx").as("gx"),
          col("cy").as("gy"), col("n")),
        base.select(lit(1).as("level"), expr("cx div 2").as("gx"),
          expr("cy div 2").as("gy"), col("n")),
        base.select(lit(2).as("level"), expr("cx div 4").as("gx"),
          expr("cy div 4").as("gy"), col("n")))
      levels.reduce(_ union _)
        .groupBy("level", "gx", "gy")
        .agg(sum(col("n")).as("n_points"))
        .orderBy("level", "gx", "gy")
    }
  )
}
