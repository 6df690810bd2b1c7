package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import Parity._

/** Concentration, engagement-cadence, and conversion metrics — the
  * revenue-analytics layer over the cloned star schema: who generates
  * the value (decile concentration, Gini), how activity spreads over
  * time (rolling active users, time-weighted averages), and how fast
  * intent converts (windowed funnel).
  *
  * Scale stance (100 TB):
  *   - [[q_revenue_deciles]] / [[q_gini_segment]]: per-entity revenue is
  *     one keyed aggregation; the rank window partitions by segment (or
  *     deciles over customers — entity cardinality, not fact
  *     cardinality), so no full-fact global sort exists.
  *   - [[q_rolling_active_users]] EXPLODES each event into the ≤7 day
  *     windows it covers (linear ×7 blowup, partition-parallel) instead
  *     of a day×event range join (quadratic in the worst case); the
  *     per-day distinct then shuffles on (day), which is the output
  *     cardinality. At 100 TB the exact distinct becomes an HLL merge.
  *   - [[q_twap]] is one window pass (lead) + one keyed aggregation;
  *     products accumulate in DECIMAL(38,0) fixed-point so the sum is
  *     order-independent under any partitioning.
  *   - [[q_funnel_window]] reduces each user to first-touch timestamps
  *     before any join — the join operands are per-user aggregates, not
  *     raw events.
  *
  * Numeric discipline (Parity.scala): money sums in DECIMAL, value
  * sums in scaled fixed-point, ratios divide exact integers/decimals in
  * double, transcendentals absent.
  */
object Concentration {

  val defs: Seq[QueryDef] = Seq(

    // ---- revenue concentration by customer decile (the 80/20 report):
    //      rank customers by exact order revenue, cut into ntile(10)
    //      deciles, report each decile's share and cumulative share.
    QueryDef.checked(
      "q_revenue_deciles",
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT revenue, ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
        |  FROM rev
        |), agg AS (
        |  SELECT decile, count(*) AS n_customers,
        |    round(sum(revenue), 2) AS decile_revenue
        |  FROM ranked GROUP BY decile
        |)
        |SELECT decile, n_customers, decile_revenue,
        |  round(decile_revenue / sum(decile_revenue) OVER (), 6) AS share,
        |  round(sum(decile_revenue) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        / sum(decile_revenue) OVER (), 6) AS cum_share
        |FROM agg ORDER BY decile""".stripMargin) { (spark, dir) =>
      val rev = Tables(spark, dir).orders
        .groupBy("o_custkey")
        .agg(sumMoney(col("o_totalprice")).as("revenue"))
      // scale-safe ntile: range-partitioned rank + driver arithmetic
      // (RangeRank) instead of a single-partition window — the per-
      // custkey aggregate is |customers|-sized, which at 100× still
      // outgrows one task
      val ranked = graft.util.RangeRank.withGlobalNtile(rev, "decile", 10,
        spark.sessionState.conf.numShufflePartitions,
        col("revenue").desc, col("o_custkey"))
      val agg = ranked.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          // revenue is an exact-decimal-derived double with 2 decimals;
          // re-sum through decimal to stay order-independent
          round(sum(col("revenue").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("decile_revenue"))
      // decile relation: measured 10 rows @ sf0.01 AND sf0.1 (PlanProbe r7)
      val wAll = Window.partitionBy()
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      agg.select(col("decile"), col("n_customers"), col("decile_revenue"),
          round(col("decile_revenue") / sum(col("decile_revenue")).over(wAll), 6)
            .as("share"),
          round(sum(col("decile_revenue")).over(wCum) /
            sum(col("decile_revenue")).over(wAll), 6).as("cum_share"))
        .orderBy("decile")
    },

    // ---- Gini coefficient of customer revenue per market segment:
    //      G = (2·Σ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n over ascending-sorted
    //      revenues. Σ i·xᵢ accumulates rank × decimal revenue in
    //      decimal — exact under any partitioning.
    QueryDef.checked(
      "q_gini_segment",
      """WITH rev AS (
        |  SELECT c.c_mktsegment, c.c_custkey,
        |    sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS revenue
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment, c.c_custkey
        |), ranked AS (
        |  SELECT c_mktsegment, revenue,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY revenue, c_custkey) AS i
        |  FROM rev
        |)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(round(sum(revenue), 2) AS DOUBLE) AS total_revenue,
        |  round(2.0 * CAST(sum(i * revenue) AS DOUBLE)
        |          / (count(*) * CAST(sum(revenue) AS DOUBLE))
        |        - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM ranked
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val rev = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum(money(col("o_totalprice"))).as("revenue"))
      val ranked = rev.withColumn("i", row_number().over(
        Window.partitionBy("c_mktsegment").orderBy("revenue", "c_custkey")))
      ranked.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("revenue")), 2).cast("double").as("total_revenue"),
          round(lit(2.0) * sum(col("i") * col("revenue")).cast("double") /
            (count(lit(1)) * sum(col("revenue")).cast("double")) -
            (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
        .orderBy("c_mktsegment")
    },

    // ---- rolling 7-day active users: explode each event into the ≤7
    //      daily windows it falls inside (linear work), then one exact
    //      distinct per window-end day.
    QueryDef.checked(
      "q_rolling_active_users",
      """WITH covered AS (
        |  SELECT DISTINCT
        |    CAST(unnest(generate_series(CAST(ts AS DATE),
        |      CAST(ts AS DATE) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day,
        |    user_id
        |  FROM events
        |), spine AS (
        |  SELECT CAST(min(CAST(ts AS DATE)) AS DATE) AS d0,
        |    CAST(max(CAST(ts AS DATE)) AS DATE) AS d1 FROM events
        |)
        |SELECT c.day, count(DISTINCT c.user_id) AS active_users_7d
        |FROM covered c, spine s
        |WHERE c.day BETWEEN s.d0 AND s.d1
        |GROUP BY c.day
        |ORDER BY c.day""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val bounds = ev.agg(
        min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      ev.select(explode(expr(
            "sequence(to_date(ts), date_add(to_date(ts), 6), interval 1 day)"))
          .as("day"), col("user_id"))
        .crossJoin(broadcast(bounds))
        .filter(col("day").between(col("d0"), col("d1")))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("active_users_7d"))
        .orderBy("day")
    },

    // ---- time-weighted average value per event type: each value holds
    //      until the type's next event; weights are exact microsecond
    //      gaps, value·weight accumulates in DECIMAL(38,0) fixed-point.
    QueryDef.checked(
      "q_twap",
      """WITH seg AS (
        |  SELECT event_type, value,
        |    date_diff('microsecond', ts, lead(ts) OVER w) AS w_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, count(*) AS n_segments,
        |  CAST(sum(w_us) AS BIGINT) AS total_us,
        |  round(CAST(sum(CAST(round(value * 1000000) AS DECIMAL(38,0)) * w_us)
        |             AS DOUBLE) / 1000000.0 / CAST(sum(w_us) AS DOUBLE), 6)
        |    AS twap
        |FROM seg WHERE w_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      Tables(spark, dir).events
        .select(col("event_type"), col("value"),
          (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
            .as("w_us"))
        .filter(col("w_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_segments"),
          sum(col("w_us")).cast("long").as("total_us"),
          round(sum(round(col("value") * 1000000).cast(DecimalType(38, 0)) *
              col("w_us")).cast("double") / lit(1000000.0) /
            sum(col("w_us")).cast("double"), 6).as("twap"))
        .orderBy("event_type")
    },

    // ---- market-basket association: co-ordered part pairs with
    //      support / confidence / lift. The pair explosion is bounded
    //      by basket size (items-per-order is small and capped at the
    //      target before the self-join); all ratios divide exact
    //      integer counts.
    QueryDef.checked(
      "q_market_basket",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY a.l_partkey, b.l_partkey
        |), freq AS (
        |  SELECT l_partkey, count(*) AS n FROM li GROUP BY l_partkey
        |), tot AS (
        |  SELECT count(DISTINCT l_orderkey) AS n_orders FROM li
        |)
        |SELECT p.part_a, p.part_b, p.n_both, fa.n AS n_a, fb.n AS n_b,
        |  round(p.n_both * 1.0 / t.n_orders, 6) AS support,
        |  round(p.n_both * 1.0 / fa.n, 6) AS confidence,
        |  round(p.n_both * 1.0 * t.n_orders / (fa.n * 1.0 * fb.n), 6) AS lift
        |FROM pairs p
        |JOIN freq fa ON fa.l_partkey = p.part_a
        |JOIN freq fb ON fb.l_partkey = p.part_b
        |CROSS JOIN tot t
        |WHERE p.n_both >= 2
        |ORDER BY p.n_both DESC, part_a, part_b
        |LIMIT 50""".stripMargin) { (spark, dir) =>
      // no Tables.spread here (r15 regression ×0.82 driver-measured):
      // the relation is checkpointed right below, so the keyless
      // repartition was an extra fact-scan exchange ahead of the
      // distinct's own shuffle, serial with the checkpoint barrier
      val li = Tables(spark, dir).lineitem
        .select("l_orderkey", "l_partkey").distinct()
        .transform(localCheckpoint) // feeds both self-join sides, freq, and tot
      val pairs = li.toDF("l_orderkey", "part_a")
        .join(li.toDF("l_orderkey2", "part_b"),
          col("l_orderkey") === col("l_orderkey2") &&
            col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 2)
      val freq = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      val tot = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      pairs
        .join(broadcast(freq.toDF("part_a", "n_a")), Seq("part_a"))
        .join(broadcast(freq.toDF("part_b", "n_b")), Seq("part_b"))
        .crossJoin(broadcast(tot))
        .select(col("part_a"), col("part_b"), col("n_both"), col("n_a"),
          col("n_b"),
          round(col("n_both") * lit(1.0) / col("n_orders"), 6).as("support"),
          round(col("n_both") * lit(1.0) / col("n_a"), 6).as("confidence"),
          round(col("n_both") * lit(1.0) * col("n_orders") /
            (col("n_a") * lit(1.0) * col("n_b")), 6).as("lift"))
        .orderBy(col("n_both").desc, col("part_a"), col("part_b"))
        .limit(50)
    },

    // ---- windowed conversion funnel: of users whose first view, how
    //      many purchased within 24h of it — first-touch reduction
    //      before the join, so operands are per-user rows.
    QueryDef.checked(
      "q_funnel_window",
      """WITH first_view AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), converted AS (
        |  SELECT DISTINCT v.user_id
        |  FROM first_view v JOIN events e ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        |    AND date_diff('microsecond', v.t_view, e.ts) <= 86400000000
        |)
        |SELECT count(*) AS n_viewers,
        |  (SELECT count(*) FROM converted) AS n_converted_24h,
        |  CASE WHEN count(*) = 0 THEN NULL
        |    ELSE round((SELECT count(*) FROM converted) * 1.0 / count(*), 6)
        |  END AS conversion_rate
        |FROM first_view""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val converted = firstView
        .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")),
          Seq("user_id"))
        .filter(col("ts") > col("t_view") &&
          unix_micros(col("ts")) - unix_micros(col("t_view")) <= 86400000000L)
        .select("user_id").distinct()
        .agg(count(lit(1)).as("n_converted_24h"))
      firstView.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(broadcast(converted))
        .select(col("n_viewers"), col("n_converted_24h"),
          // guard the empty-viewers corpus: Spark's 0/0 is NULL while
          // DuckDB's is NaN — make the degenerate case NULL on both
          when(col("n_viewers") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_converted_24h") * lit(1.0) /
              col("n_viewers"), 6)).as("conversion_rate"))
    },

    // ---- cohort LTV triangle: customers cohorted by first-order
    //      QUARTER; for each (cohort, quarters-since-acquisition) cell,
    //      cumulative revenue per cohort member — the lifetime-value
    //      curve finance reads off the triangle's rows. Cumulative via
    //      a window over the quarter axis of the (cohorts × ages)
    //      grid (bounded ~28×28); the only fact-sized shuffles are the
    //      first-order aggregate and the (cohort, age) revenue rollup.
    //      Revenue stays exact integer cents; the per-member division
    //      is the one double at the edge.
    QueryDef.checked(
      "q_cohort_ltv",
      """WITH firsts AS (
        |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS d0
        |  FROM orders GROUP BY o_custkey
        |), cohorts AS (
        |  SELECT o_custkey,
        |    CAST(year(d0) * 4 + (month(d0) - 1) // 3 AS BIGINT) AS cq
        |  FROM firsts
        |), sizes AS (
        |  SELECT cq, count(*) AS n_members FROM cohorts GROUP BY cq
        |), rev AS (
        |  SELECT c.cq,
        |    CAST(year(CAST(o.o_orderdate AS DATE)) * 4
        |      + (month(CAST(o.o_orderdate AS DATE)) - 1) // 3 - c.cq
        |      AS BIGINT) AS age_q,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders o JOIN cohorts c ON c.o_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), tri AS (
        |  SELECT cq, age_q, cents,
        |    CAST(sum(cents) OVER (PARTITION BY cq ORDER BY age_q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM rev
        |)
        |SELECT t.cq AS cohort_q, t.age_q, s.n_members,
        |  t.cum_cents,
        |  round(CAST(t.cum_cents AS DOUBLE) / s.n_members / 100.0, 6)
        |    AS ltv_per_member
        |FROM tri t JOIN sizes s ON s.cq = t.cq
        |WHERE t.age_q <= 8
        |ORDER BY cohort_q, age_q""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val orders = Tables(spark, dir).orders
      val cohorts = orders.groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("d0"))
        .select(col("o_custkey"),
          (year(col("d0")) * 4 + expr("(month(d0) - 1) div 3")).cast("long")
            .as("cq"))
        .transform(localCheckpoint) // sizes + the fact join both read it
      val sizes = cohorts.groupBy("cq").agg(count(lit(1)).as("n_members"))
      val rev = orders
        .join(cohorts, Seq("o_custkey"))
        .select(col("cq"),
          ((year(to_date(col("o_orderdate"))) * 4 +
            expr("(month(to_date(o_orderdate)) - 1) div 3")).cast("long")
            - col("cq")).as("age_q"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .groupBy("cq", "age_q")
        .agg(sum(col("c")).cast("long").as("cents"))
      // cumulative along the age axis of the bounded cohort grid
      val w = Window.partitionBy("cq").orderBy("age_q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_cents", sum(col("cents")).over(w).cast("long"))
        .join(broadcast(sizes), Seq("cq"))
        .filter(col("age_q") <= 8)
        .select(col("cq").as("cohort_q"), col("age_q"), col("n_members"),
          col("cum_cents"),
          round(col("cum_cents").cast("double") / col("n_members") / 100.0, 6)
            .as("ltv_per_member"))
        .orderBy("cohort_q", "age_q")
    },

    // ---- RFM segmentation: recency/frequency/monetary quintiles per
    //      customer, reported as the 5×5×5 cell census. Each quintile
    //      is a GLOBAL ntile over the customer population — assigned
    //      with the scale-safe [[graft.util.RangeRank.withGlobalNtile]]
    //      (range partitions + broadcast offsets), never a
    //      single-partition window; the oracle replays plain SQL ntile.
    //      Ties break on custkey so the assignment is total.
    QueryDef.checked(
      "q_rfm_segments",
      """WITH b AS (
        |  SELECT CAST(max(o_orderdate) AS DATE) AS dmax FROM orders
        |), rfm AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE), b.dmax)
        |      AS recency_days,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders, b GROUP BY o_custkey, b.dmax
        |), scored AS (
        |  SELECT o_custkey,
        |    ntile(5) OVER (ORDER BY recency_days, o_custkey) AS rq,
        |    ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS fq,
        |    ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS mq,
        |    cents
        |  FROM rfm
        |)
        |SELECT CAST(rq AS BIGINT) AS rq, CAST(fq AS BIGINT) AS fq,
        |  CAST(mq AS BIGINT) AS mq,
        |  count(*) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS cell_cents
        |FROM scored
        |GROUP BY rq, fq, mq
        |ORDER BY rq, fq, mq""".stripMargin) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      val b = orders.agg(to_date(max(col("o_orderdate"))).as("dmax"))
      val rfm = orders.crossJoin(broadcast(b))
        .groupBy("o_custkey", "dmax")
        .agg(max(to_date(col("o_orderdate"))).as("dlast"),
          count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long").as("cents"))
        .select(col("o_custkey"),
          datediff(col("dmax"), col("dlast")).as("recency_days"),
          col("n_orders"), col("cents"))
        .transform(localCheckpoint) // three independent ntile passes read it
      val parts = spark.sessionState.conf.numShufflePartitions
      def tile(df: org.apache.spark.sql.DataFrame, out: String,
          keys: org.apache.spark.sql.Column*) =
        graft.util.RangeRank.withGlobalNtile(df, out, 5, parts, keys: _*)
          .select(col("o_custkey").as(s"k_$out"), col(out))
      val rq = tile(rfm, "rq", col("recency_days"), col("o_custkey"))
      val fq = tile(rfm, "fq", col("n_orders").desc, col("o_custkey"))
      val mq = tile(rfm, "mq", col("cents").desc, col("o_custkey"))
      rfm.join(rq, col("k_rq") === col("o_custkey"))
        .join(fq, col("k_fq") === col("o_custkey"))
        .join(mq, col("k_mq") === col("o_custkey"))
        .groupBy(col("rq").cast("long").as("rq"),
          col("fq").cast("long").as("fq"),
          col("mq").cast("long").as("mq"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).cast("long").as("cell_cents"))
        .orderBy("rq", "fq", "mq")
    },

    // ---- maximum drawdown of the daily revenue index: cumulative
    //      exact-cents revenue, running peak (strict window cummax),
    //      deepest peak-to-trough gap. Facts reduce to the day grid in
    //      one keyed aggregate; the cumulative/peak windows run over
    //      calendar-bounded rows (annotated — at an unbounded horizon
    //      the RangeRank prefix-scan family takes over, as with the
    //      other global scans). Integer cents end-to-end; the one
    //      double division is the reported percentage.
    QueryDef.checked(
      "q_max_drawdown",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1
        |), cum AS (
        |  SELECT day,
        |    CAST(sum(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS idx
        |  FROM daily
        |), dd AS (
        |  SELECT day, idx,
        |    CAST(max(idx) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS peak
        |  FROM cum
        |)
        |SELECT day AS trough_day, peak AS peak_cents, idx AS index_cents,
        |  peak - idx AS drawdown_cents,
        |  round(CAST(peak - idx AS DOUBLE) / peak, 6) AS drawdown_pct
        |FROM dd
        |ORDER BY peak - idx DESC, day
        |LIMIT 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("long").as("cents"))
      // day-grid windows: measured 2399 rows @ sf0.01, 2405 @ sf0.1
      // (PlanProbe r7) — saturates at the calendar span
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("idx", sum(col("cents")).over(w).cast("long"))
        .withColumn("peak", max(col("idx")).over(w).cast("long"))
        .select(col("day").as("trough_day"), col("peak").as("peak_cents"),
          col("idx").as("index_cents"),
          (col("peak") - col("idx")).as("drawdown_cents"),
          round((col("peak") - col("idx")).cast("double") / col("peak"), 6)
            .as("drawdown_pct"))
        .orderBy(col("drawdown_cents").desc, col("trough_day"))
        .limit(1)
    }
  )
}
