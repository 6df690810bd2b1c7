package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Experiment-analysis and model-evaluation statistics: Kaplan-Meier
  * survival over customer order histories, Welch's unequal-variance
  * t-test, Benjamini-Hochberg FDR control across a metric family, and
  * a seasonal-naive forecast backtest (the canonical "is the fancy
  * model beating the dumb baseline" report).
  *
  * Scale stance (100 TB):
  *   - Every query reduces the fact table to a BOUNDED relation first
  *     (per-customer 1-row aggregate, per-type 1-row moments, per-(type,
  *     day) counts) with one keyed shuffle; the windows/cumulatives that
  *     follow run over those bounded relations only — duration buckets
  *     (≤ ~80 rows), event types (5), type×day grids — and are annotated
  *     at the call site.
  *   - Moments (mean/variance) are computed from raw sum/sum-of-squares
  *     aggregates with the SAME closed form on both engines, so the
  *     oracle comparison never depends on an engine's private variance
  *     recurrence.
  *   - The Kaplan-Meier cumulative product is exp∘Σln on BOTH sides —
  *     one associative sum instead of an ordered product, which is also
  *     what makes it a mergeable partial at scale.
  */
object Experiments {

  /** One-sided normal tail approximation p ≈ exp(−0.717z − 0.416z²)
    * (Lin 1989's logistic-family bound; max abs error < 0.0014 for
    * z ≥ 0). Chosen over erfc because both engines evaluate this exact
    * expression identically — there is no libm erfc in either SQL
    * surface. */
  private def duckTail(z: String) = s"exp(-0.717 * $z - 0.416 * $z * $z)"

  val defs: Seq[QueryDef] = Seq(

    // ---- Kaplan-Meier survival: per-customer lifetime = days between
    //      first and last order, binned to 30-day buckets; "churned"
    //      (event) if the last order predates 1998-01-01, else censored.
    //      S(t) = Π_{u≤t} (1 − d_u/n_u) over event buckets, computed as
    //      exp(Σ ln) identically on both engines.
    QueryDef.checked(
      "q_kaplan_meier",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) // 30
        |      AS BIGINT) AS t,
        |    CASE WHEN max(o_orderdate) < TIMESTAMP '1998-01-01'
        |         THEN 1 ELSE 0 END AS ev
        |  FROM orders GROUP BY o_custkey
        |), tot AS (
        |  SELECT count(*) AS n_total FROM cust
        |), bytime AS (
        |  SELECT t, CAST(sum(ev) AS BIGINT) AS n_events,
        |    CAST(count(*) - sum(ev) AS BIGINT) AS n_censored
        |  FROM cust GROUP BY t
        |), risk AS (
        |  SELECT t, n_events, n_censored,
        |    CAST(tot.n_total - coalesce(sum(n_events + n_censored) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_at_risk
        |  FROM bytime, tot
        |)
        |SELECT t, n_events, n_censored, n_at_risk,
        |  round(exp(sum(CASE WHEN n_events > 0
        |    THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk)
        |    ELSE 0.0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |    AS survival
        |FROM risk
        |ORDER BY t""".stripMargin) { (spark, dir) =>
      // churned iff the customer's LAST order predates the cutoff
      val custs = Tables(spark, dir).orders
        .groupBy("o_custkey")
        .agg(
          expr("CAST(datediff(max(o_orderdate), min(o_orderdate)) AS BIGINT) div 30")
            .as("t"),
          when(max(col("o_orderdate")) < lit("1998-01-01").cast("timestamp"), 1)
            .otherwise(0).as("ev"))
      val total = custs.agg(count(lit(1)).as("n_total"))
      val bytime = custs.groupBy("t")
        .agg(sum(col("ev")).cast("long").as("n_events"),
          (count(lit(1)) - sum(col("ev"))).cast("long").as("n_censored"))
      // windows below run over the duration-bucket relation — bounded by
      // the calendar span, not the order count: measured 66 rows @ sf0.01,
      // 78 @ sf0.1 (PlanProbe r7), saturating toward the span
      val wPrev = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCur = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bytime.crossJoin(broadcast(total))
        .withColumn("n_at_risk",
          (col("n_total") -
            coalesce(sum(col("n_events") + col("n_censored")).over(wPrev),
              lit(0L))).cast("long"))
        .withColumn("survival",
          round(exp(sum(when(col("n_events") > 0,
            log(lit(1.0) - col("n_events").cast("double") / col("n_at_risk")))
            .otherwise(lit(0.0))).over(wCur)), 6))
        .select("t", "n_events", "n_censored", "n_at_risk", "survival")
        .orderBy("t")
    },

    // ---- Welch's unequal-variance t-test: purchase vs click event
    //      values. Moments from raw Σv/Σv² so both engines share one
    //      closed form; t statistic + Welch-Satterthwaite df.
    QueryDef.checked(
      "q_welch_ttest",
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY event_type
        |), m AS (
        |  SELECT event_type, n, sx / n AS mean,
        |    (sxx - sx * sx / n) / (n - 1) AS var
        |  FROM g
        |), w AS (
        |  SELECT
        |    max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
        |    max(CASE WHEN event_type = 'click' THEN n END) AS n2,
        |    max(CASE WHEN event_type = 'purchase' THEN mean END) AS m1,
        |    max(CASE WHEN event_type = 'click' THEN mean END) AS m2,
        |    max(CASE WHEN event_type = 'purchase' THEN var END) AS v1,
        |    max(CASE WHEN event_type = 'click' THEN var END) AS v2
        |  FROM m
        |)
        |SELECT CAST(n1 AS BIGINT) AS n_purchase, CAST(n2 AS BIGINT) AS n_click,
        |  round(m1, 6) AS mean_purchase, round(m2, 6) AS mean_click,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
        |  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |    / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |     + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS welch_df
        |FROM w""".stripMargin) { (spark, dir) =>
      val g = Tables(spark, dir).events
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("value")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
        .select(col("event_type"), col("n"),
          (col("sx") / col("n")).as("mean"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
            .as("var"))
      // 2-row pivot to a single row — driver-free, one tiny aggregate
      g.agg(
        max(when(col("event_type") === "purchase", col("n"))).as("n1"),
        max(when(col("event_type") === "click", col("n"))).as("n2"),
        max(when(col("event_type") === "purchase", col("mean"))).as("m1"),
        max(when(col("event_type") === "click", col("mean"))).as("m2"),
        max(when(col("event_type") === "purchase", col("var"))).as("v1"),
        max(when(col("event_type") === "click", col("var"))).as("v2"))
        .select(
          col("n1").cast("long").as("n_purchase"),
          col("n2").cast("long").as("n_click"),
          round(col("m1"), 6).as("mean_purchase"),
          round(col("m2"), 6).as("mean_click"),
          round((col("m1") - col("m2")) /
            sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6)
            .as("t_stat"),
          round(
            (col("v1") / col("n1") + col("v2") / col("n2")) *
              (col("v1") / col("n1") + col("v2") / col("n2")) /
              ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1) +
                (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1)),
            6).as("welch_df"))
    },

    // ---- Benjamini-Hochberg FDR across the per-event-type "did the
    //      mean value shift after 2024-01-16" test family: z from the
    //      two-sample closed form, p from the shared tail approximation,
    //      then the BH step-up rule at q = 0.10 (reject ranks ≤ the
    //      LARGEST rank whose p ≤ q·i/m — including any non-flagged
    //      ranks below it, the part naive implementations get wrong).
    QueryDef.checked(
      "q_bh_fdr",
      s"""WITH g AS (
        |  SELECT event_type,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 'r' ELSE 'o' END AS per,
        |    count(*) AS n, CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, per, n, sx / n AS mean,
        |    (sxx - sx * sx / n) / (n - 1) AS var
        |  FROM g
        |), z AS (
        |  SELECT r.event_type, r.n AS n_recent, o.n AS n_old,
        |    (r.mean - o.mean) / sqrt(r.var / r.n + o.var / o.n) AS zval
        |  FROM m r JOIN m o ON o.event_type = r.event_type
        |  WHERE r.per = 'r' AND o.per = 'o'
        |), p AS (
        |  SELECT event_type, n_recent, n_old, zval,
        |    least(1.0, 2.0 * ${duckTail("abs(zval)")}) AS pval
        |  FROM z
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY pval, event_type) AS p_rank,
        |    count(*) OVER () AS m_tests
        |  FROM p
        |), gated AS (
        |  SELECT *, max(CASE WHEN pval <= 0.10 * p_rank / m_tests
        |                     THEN p_rank END) OVER () AS k_max
        |  FROM ranked
        |)
        |SELECT event_type, CAST(n_recent AS BIGINT) AS n_recent,
        |  CAST(n_old AS BIGINT) AS n_old,
        |  round(zval, 6) AS z, round(pval, 6) AS p,
        |  CAST(p_rank AS BIGINT) AS p_rank,
        |  coalesce(p_rank <= k_max, FALSE) AS rejected
        |FROM gated
        |ORDER BY p_rank""".stripMargin) { (spark, dir) =>
      val g = Tables(spark, dir).events
        .withColumn("per",
          when(col("ts") >= lit("2024-01-16").cast("timestamp"), "r")
            .otherwise("o"))
        .groupBy("event_type", "per")
        .agg(count(lit(1)).as("n"),
          sum((col("value")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
        .select(col("event_type"), col("per"), col("n"),
          (col("sx") / col("n")).as("mean"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
            .as("var"))
      val r = g.filter(col("per") === "r")
        .select(col("event_type"), col("n").as("n_recent"),
          col("mean").as("mr"), col("var").as("vr"))
      val o = g.filter(col("per") === "o")
        .select(col("event_type"), col("n").as("n_old"),
          col("mean").as("mo"), col("var").as("vo"))
      val z = r.join(o, Seq("event_type"))
        .select(col("event_type"), col("n_recent"), col("n_old"),
          ((col("mr") - col("mo")) /
            sqrt(col("vr") / col("n_recent") + col("vo") / col("n_old")))
            .as("zval"))
        .withColumn("az", abs(col("zval")))
        .withColumn("pval",
          least(lit(1.0),
            lit(2.0) * exp(lit(-0.717) * col("az") -
              lit(0.416) * col("az") * col("az"))))
      // windows over the metric family — |event_type| rows: measured 5 @
      // sf0.01 AND sf0.1 (PlanProbe r7)
      val wAll = Window.partitionBy(lit(1))
      val wRank = Window.partitionBy(lit(1)).orderBy("pval", "event_type")
      z.withColumn("p_rank", row_number().over(wRank))
        .withColumn("m_tests", count(lit(1)).over(wAll))
        .withColumn("k_max",
          max(when(col("pval") <= lit(0.10) * col("p_rank") / col("m_tests"),
            col("p_rank"))).over(wAll))
        .select(col("event_type"),
          col("n_recent").cast("long").as("n_recent"),
          col("n_old").cast("long").as("n_old"),
          round(col("zval"), 6).as("z"), round(col("pval"), 6).as("p"),
          col("p_rank").cast("long").as("p_rank"),
          coalesce(col("p_rank") <= col("k_max"), lit(false)).as("rejected"))
        .orderBy("p_rank")
    },

    // ---- seasonal-naive backtest: forecast each (type, day) count with
    //      the count 7 days earlier (JOIN on the date key, not lag(7
    //      rows) — gap-proof), then per-type MAE / sMAPE. The baseline
    //      every forecasting model must beat before it ships.
    QueryDef.checked(
      "q_seasonal_backtest",
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), eval AS (
        |  SELECT a.event_type, a.d, a.n AS actual, b.n AS forecast
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type
        |   AND b.d = a.d - INTERVAL 7 DAY
        |)
        |SELECT event_type, count(*) AS n_days,
        |  round(avg(CAST(abs(actual - forecast) AS DOUBLE)), 6) AS mae,
        |  round(avg(2.0 * abs(actual - forecast)
        |    / CAST(actual + forecast AS DOUBLE)), 6) AS smape
        |FROM eval
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).events
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      // fully-renamed forecast side — no ambiguous self-join lineage
      val fc = daily.select(col("event_type").as("f_type"),
        col("d").as("fd"), col("n").as("forecast"))
      daily.join(fc,
        col("f_type") === col("event_type") &&
          col("fd") === col("d") - expr("INTERVAL 7 DAY"))
        .select(col("event_type"), col("d"), col("n").as("actual"),
          col("forecast"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("actual") - col("forecast")).cast("double")), 6)
            .as("mae"),
          round(avg(lit(2.0) * abs(col("actual") - col("forecast")) /
            (col("actual") + col("forecast")).cast("double")), 6).as("smape"))
        .orderBy("event_type")
    },

    // ---- power analysis / minimum detectable effect: per event type,
    //      the smallest mean shift a 50/50 experiment over the observed
    //      population could detect at α = 0.05 (two-sided, z = 1.959964)
    //      with 80% power (z = 0.841621):
    //      MDE = (z_α + z_β)·σ·√(2/(n/2)). One 1-row-per-type moment
    //      aggregate — the pre-registration sizing report.
    QueryDef.checked(
      "q_power_mde",
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    sqrt((CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
        |      - CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) * CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(*))
        |      / (count(*) - 1)) AS sd
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n, round(sd, 6) AS sd,
        |  round((1.959964 + 0.841621) * sd * sqrt(2.0 / (n / 2)), 6)
        |    AS mde_abs,
        |  CAST(n // 2 AS BIGINT) AS n_per_arm
        |FROM g
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sqrt((sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double") -
            sum((col("value")).cast("decimal(38,12)")).cast("double") * sum((col("value")).cast("decimal(38,12)")).cast("double") / count(lit(1))) /
            (count(lit(1)) - 1)).as("sd"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("sd"), 6).as("sd"),
          round(lit(1.959964 + 0.841621) * col("sd") *
            sqrt(lit(2.0) / (col("n") / 2)), 6).as("mde_abs"),
          expr("n div 2").as("n_per_arm"))
        .orderBy("event_type")
    },

    // ---- split-conformal prediction coverage: train (event_id%4 ∈
    //      {0,1}) fits the per-type mean predictor, calibration
    //      (event_id%4 = 2) takes the ⌈0.9·(n+1)⌉-th smallest absolute
    //      residual as q̂ per type, test (event_id%4 = 3) reports
    //      empirical coverage of |y − μ| ≤ q̂ (~90% by the conformal
    //      guarantee). The per-type order statistic uses the scale-safe
    //      [[graft.util.RangeRank]] global rank over (type, score, id)
    //      lifted to per-type ranks by a |types|-row broadcast offset —
    //      no single-partition sort, no per-type skewed window.
    QueryDef.checked(
      "q_conformal_coverage",
      """WITH mu AS (
        |  SELECT event_type, CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
        |  FROM events WHERE event_id % 4 IN (0, 1) GROUP BY event_type
        |), cal AS (
        |  SELECT e.event_type, e.event_id, abs(e.value - m.mu) AS s
        |  FROM events e JOIN mu m ON m.event_type = e.event_type
        |  WHERE e.event_id % 4 = 2
        |), ranked AS (
        |  SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY s, event_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_cal
        |  FROM cal
        |), qhat AS (
        |  SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
        |    CAST(rn AS BIGINT) AS k, s AS qh
        |  FROM ranked
        |  WHERE rn = least(n_cal, CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT))
        |), test AS (
        |  SELECT e.event_type, abs(e.value - m.mu) AS s
        |  FROM events e JOIN mu m ON m.event_type = e.event_type
        |  WHERE e.event_id % 4 = 3
        |)
        |SELECT t.event_type, q.n_cal, q.k, round(q.qh, 6) AS qhat,
        |  count(*) AS n_test,
        |  CAST(sum(CASE WHEN t.s <= q.qh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  round(CAST(sum(CASE WHEN t.s <= q.qh THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS coverage
        |FROM test t JOIN qhat q ON q.event_type = t.event_type
        |GROUP BY t.event_type, q.n_cal, q.k, q.qh
        |ORDER BY t.event_type""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val mu = ev.filter(col("event_id") % 4 < 2)
        .groupBy("event_type")
        .agg((sum((col("value")).cast("decimal(38,12)")).cast("double") / count(lit(1))).as("mu"))
      val cal = ev.filter(col("event_id") % 4 === 2)
        .join(broadcast(mu), Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          abs(col("value") - col("mu")).as("s"))
      // global rank by (type, score, id); per-type offsets come from a
      // |types|-row aggregate — the per-type rank with no skewed window
      val ranked = graft.util.RangeRank.withGlobalRank(
          cal, "grn", spark.sessionState.conf.numShufflePartitions,
          col("event_type"), col("s"), col("event_id"))
        .transform(localCheckpoint) // feeds the offset aggregate AND the k-row pick
      val offs = ranked.groupBy("event_type")
        .agg(min(col("grn")).as("g0"), count(lit(1)).as("n_cal"))
      val qhat = ranked.join(broadcast(offs), Seq("event_type"))
        .withColumn("rn", col("grn") - col("g0") + 1)
        .filter(col("rn") === least(col("n_cal"),
          ceil(lit(0.9) * (col("n_cal") + 1)).cast("long")))
        .select(col("event_type"), col("n_cal").cast("long").as("n_cal"),
          col("rn").cast("long").as("k"), col("s").as("qh"))
      val test = ev.filter(col("event_id") % 4 === 3)
        .join(broadcast(mu), Seq("event_type"))
        .select(col("event_type"), abs(col("value") - col("mu")).as("ts"))
      test.join(broadcast(qhat), Seq("event_type"))
        .groupBy("event_type", "n_cal", "k", "qh")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("ts") <= col("qh"), 1).otherwise(0)).cast("long")
            .as("n_covered"))
        .select(col("event_type"), col("n_cal"), col("k"),
          round(col("qh"), 6).as("qhat"), col("n_test"), col("n_covered"),
          round(col("n_covered").cast("double") / col("n_test"), 6)
            .as("coverage"))
        .orderBy("event_type")
    },

    // ---- difference-in-differences: purchase (treated) vs view
    //      (control) mean values, before vs after the mid-log cutoff —
    //      the 2×2 cell means, the DiD point estimate, and its
    //      pooled-variance standard error. One grouped moment aggregate
    //      (4 cells), then pure closed-form arithmetic on the 1-row
    //      pivot; the same Σv/Σv² discipline as the other test queries.
    QueryDef.checked(
      "q_diff_in_diff",
      """WITH g AS (
        |  SELECT event_type,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
        |    count(*) AS n, CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, post, n, sx / n AS mean,
        |    (sxx - sx * sx / n) / (n - 1) AS var
        |  FROM g
        |), p AS (
        |  SELECT
        |    max(CASE WHEN event_type = 'purchase' AND post = 1 THEN mean END) AS t1,
        |    max(CASE WHEN event_type = 'purchase' AND post = 0 THEN mean END) AS t0,
        |    max(CASE WHEN event_type = 'view' AND post = 1 THEN mean END) AS c1,
        |    max(CASE WHEN event_type = 'view' AND post = 0 THEN mean END) AS c0,
        |    sum(var / n) AS se2,
        |    CAST(sum(n) AS BIGINT) AS n_total
        |  FROM m
        |)
        |SELECT n_total,
        |  round(t1, 6) AS treated_post, round(t0, 6) AS treated_pre,
        |  round(c1, 6) AS control_post, round(c0, 6) AS control_pre,
        |  round((t1 - t0) - (c1 - c0), 6) AS did,
        |  round(sqrt(se2), 6) AS did_se
        |FROM p""".stripMargin) { (spark, dir) =>
      val m = Tables(spark, dir).events
        .filter(col("event_type").isin("purchase", "view"))
        .withColumn("post",
          when(col("ts") >= lit("2024-01-16").cast("timestamp"), 1)
            .otherwise(0))
        .groupBy("event_type", "post")
        .agg(count(lit(1)).as("n"),
          sum((col("value")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
        .select(col("event_type"), col("post"), col("n"),
          (col("sx") / col("n")).as("mean"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
            .as("var"))
      def cell(t: String, p: Int) =
        max(when(col("event_type") === t && col("post") === p, col("mean")))
      m.agg(cell("purchase", 1).as("t1"), cell("purchase", 0).as("t0"),
          cell("view", 1).as("c1"), cell("view", 0).as("c0"),
          sum(col("var") / col("n")).as("se2"),
          sum(col("n")).cast("long").as("n_total"))
        .select(col("n_total"),
          round(col("t1"), 6).as("treated_post"),
          round(col("t0"), 6).as("treated_pre"),
          round(col("c1"), 6).as("control_post"),
          round(col("c0"), 6).as("control_pre"),
          round((col("t1") - col("t0")) - (col("c1") - col("c0")), 6)
            .as("did"),
          round(sqrt(col("se2")), 6).as("did_se"))
    },

    // ---- Markov removal-effect attribution (bounded horizon): user
    //      journeys become a first-order transition chain (START → …,
    //      purchase absorbed as CONV, paths truncated at the first
    //      purchase). For each channel c, re-walk the chain with every
    //      transition touching c deleted and compare the ≤4-step
    //      conversion mass — the removal effect is the share of
    //      conversions that die with the channel. All matrix work runs
    //      on the |states|² transition relation (≤ 36 rows × 5
    //      scenarios); the only fact-sized shuffles build the ordered
    //      journeys. The 4-step horizon is what keeps the walk an
    //      unrolled join chain both engines replay identically.
    QueryDef.checked(
      "q_markov_attribution",
      """WITH seq0 AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV'
        |         ELSE event_type END AS st,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events
        |), seq AS (
        |  SELECT user_id, st, rn,
        |    min(CASE WHEN st = 'CONV' THEN rn END)
        |      OVER (PARTITION BY user_id) AS first_conv
        |  FROM seq0
        |), cut AS (
        |  SELECT user_id, st, rn FROM seq
        |  WHERE first_conv IS NULL OR rn <= first_conv
        |), tr AS (
        |  SELECT coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
        |      'START') AS from_s,
        |    st AS to_s
        |  FROM cut
        |), tcnt AS (
        |  SELECT from_s, to_s, count(*) AS c FROM tr GROUP BY 1, 2
        |), p AS (
        |  SELECT from_s, to_s,
        |    CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY from_s) AS p
        |  FROM tcnt
        |), scen AS (
        |  SELECT * FROM (VALUES ('none'), ('click'), ('view'),
        |    ('signup'), ('error')) AS t(removed)
        |), st AS (
        |  SELECT s.removed, p.from_s, p.to_s, p.p
        |  FROM scen s JOIN p
        |    ON p.from_s <> s.removed AND p.to_s <> s.removed
        |), v1 AS (
        |  SELECT removed, to_s AS state, p FROM st WHERE from_s = 'START'
        |), v2 AS (
        |  SELECT a.removed, t.to_s AS state,
        |    CAST(sum(CAST(a.p * t.p AS DECIMAL(38,18))) AS DOUBLE) AS p
        |  FROM v1 a JOIN st t
        |    ON t.removed = a.removed AND t.from_s = a.state
        |  WHERE a.state <> 'CONV' GROUP BY 1, 2
        |), v3 AS (
        |  SELECT a.removed, t.to_s AS state,
        |    CAST(sum(CAST(a.p * t.p AS DECIMAL(38,18))) AS DOUBLE) AS p
        |  FROM v2 a JOIN st t
        |    ON t.removed = a.removed AND t.from_s = a.state
        |  WHERE a.state <> 'CONV' GROUP BY 1, 2
        |), v4 AS (
        |  SELECT a.removed, t.to_s AS state,
        |    CAST(sum(CAST(a.p * t.p AS DECIMAL(38,18))) AS DOUBLE) AS p
        |  FROM v3 a JOIN st t
        |    ON t.removed = a.removed AND t.from_s = a.state
        |  WHERE a.state <> 'CONV' GROUP BY 1, 2
        |), conv AS (
        |  SELECT removed, CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS p_conv FROM (
        |    SELECT removed, p FROM v1 WHERE state = 'CONV'
        |    UNION ALL SELECT removed, p FROM v2 WHERE state = 'CONV'
        |    UNION ALL SELECT removed, p FROM v3 WHERE state = 'CONV'
        |    UNION ALL SELECT removed, p FROM v4 WHERE state = 'CONV')
        |  GROUP BY removed
        |), base AS (
        |  SELECT p_conv AS p0 FROM conv WHERE removed = 'none'
        |)
        |SELECT c.removed, round(c.p_conv, 6) AS p_conv_4step,
        |  round((b.p0 - c.p_conv) / b.p0, 6) AS removal_effect
        |FROM conv c, base b
        |ORDER BY c.removed""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAllU = Window.partitionBy("user_id")
      val seq = Tables(spark, dir).events
        .withColumn("st", when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")))
        .withColumn("rn", row_number().over(w))
        .withColumn("first_conv",
          min(when(col("st") === "CONV", col("rn"))).over(wAllU))
      val tr = seq
        .filter(col("first_conv").isNull || col("rn") <= col("first_conv"))
        .withColumn("from_s", coalesce(
          lag(col("st"), 1).over(Window.partitionBy("user_id").orderBy("rn")),
          lit("START")))
        .select(col("from_s"), col("st").as("to_s"))
      val tcnt = tr.groupBy("from_s", "to_s").agg(count(lit(1)).as("c"))
      // |states|-bounded window — the transition matrix is tiny
      val p = tcnt.withColumn("p", col("c").cast("double") /
          sum(col("c")).over(Window.partitionBy("from_s")))
        .select("from_s", "to_s", "p")
      import spark.implicits._
      val scen = Seq("none", "click", "view", "signup", "error")
        .toDF("removed")
      val st = scen.join(p,
          col("from_s") =!= col("removed") && col("to_s") =!= col("removed"))
        .transform(localCheckpoint) // feeds all four walk steps
      def step(v: org.apache.spark.sql.DataFrame) = {
        val a = v.filter(col("state") =!= "CONV")
          .select(col("removed").as("r2"), col("state").as("from2"),
            col("p").as("pa"))
        a.join(st, col("removed") === col("r2") && col("from_s") === col("from2"))
          .groupBy(col("removed"), col("to_s").as("state"))
          .agg(sum((col("pa") * col("p")).cast("decimal(38,18)")).cast("double").as("p"))
      }
      val v1 = st.filter(col("from_s") === "START")
        .select(col("removed"), col("to_s").as("state"), col("p"))
        .transform(localCheckpoint)
      val v2 = step(v1).transform(localCheckpoint)
      val v3 = step(v2).transform(localCheckpoint)
      val v4 = step(v3)
      val conv = v1.unionAll(v2).unionAll(v3).unionAll(v4)
        .filter(col("state") === "CONV")
        .groupBy("removed").agg(sum((col("p")).cast("decimal(38,18)")).cast("double").as("p_conv"))
      val base = conv.filter(col("removed") === "none")
        .select(col("p_conv").as("p0"))
      conv.crossJoin(broadcast(base))
        .select(col("removed"), round(col("p_conv"), 6).as("p_conv_4step"),
          round((col("p0") - col("p_conv")) / col("p0"), 6)
            .as("removal_effect"))
        .orderBy("removed")
    },

    // ---- covariate balance (standardized mean difference): the
    //      experiment-QA check that the hash split did not tilt any
    //      pre-treatment customer feature — SMD = (m̄_A − m̄_B) /
    //      √((v_A + v_B)/2) per feature, |SMD| ≤ 0.1 = balanced. Same
    //      md5 unit split as q_srm_check, same Σv/Σv² closed-form
    //      moments as the test-statistic family; the stack unpivot
    //      makes features DATA (3 rows/customer, one grouped pass).
    QueryDef.checked(
      "q_covariate_balance",
      """WITH feats AS (
        |  SELECT o_custkey,
        |    CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 2 AS arm,
        |    CAST(count(*) AS DOUBLE) AS f_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |      AS f_cents,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      DATE '2001-08-01') AS DOUBLE) AS f_recency
        |  FROM orders GROUP BY o_custkey
        |), unp AS (
        |  SELECT arm, 'f_orders' AS feat, f_orders AS v FROM feats
        |  UNION ALL SELECT arm, 'f_cents', f_cents FROM feats
        |  UNION ALL SELECT arm, 'f_recency', f_recency FROM feats
        |), m AS (
        |  SELECT feat, arm, count(*) AS n, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM unp GROUP BY feat, arm
        |), p AS (
        |  SELECT feat,
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 0 THEN sx / n END) AS m_a,
        |    max(CASE WHEN arm = 1 THEN sx / n END) AS m_b,
        |    max(CASE WHEN arm = 0 THEN (sxx - sx * sx / n) / (n - 1) END) AS v_a,
        |    max(CASE WHEN arm = 1 THEN (sxx - sx * sx / n) / (n - 1) END) AS v_b
        |  FROM m GROUP BY feat
        |)
        |SELECT feat, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  round((m_a - m_b) / sqrt((v_a + v_b) / 2), 6) AS smd,
        |  abs((m_a - m_b) / sqrt((v_a + v_b) / 2)) <= 0.1 AS balanced
        |FROM p
        |ORDER BY feat""".stripMargin) { (spark, dir) =>
      val feats = Tables(spark, dir).orders
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("double").as("f_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("double").as("f_cents"),
          datediff(lit("2001-08-01").cast("date"),
            to_date(max(col("o_orderdate")))).cast("double").as("f_recency"))
        .withColumn("arm",
          expr("CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15)," +
            " 16, 10) AS BIGINT) % 2"))
      val m = feats.select(col("arm"),
          expr("stack(3, 'f_orders', f_orders, 'f_cents', f_cents," +
            " 'f_recency', f_recency) AS (feat, v)"))
        .groupBy("feat", "arm")
        .agg(count(lit(1)).as("n"), sum((col("v")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("sxx"))
      def arm(a: Int, e: org.apache.spark.sql.Column) =
        max(when(col("arm") === a, e))
      m.groupBy("feat")
        .agg(arm(0, col("n")).as("n_a"), arm(1, col("n")).as("n_b"),
          arm(0, col("sx") / col("n")).as("m_a"),
          arm(1, col("sx") / col("n")).as("m_b"),
          arm(0, (col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("v_a"),
          arm(1, (col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("v_b"))
        .select(col("feat"),
          col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
          round((col("m_a") - col("m_b")) /
            sqrt((col("v_a") + col("v_b")) / 2), 6).as("smd"),
          (abs((col("m_a") - col("m_b")) /
            sqrt((col("v_a") + col("v_b")) / 2)) <= 0.1).as("balanced"))
        .orderBy("feat")
    },

    // ---- Cochran–Mantel–Haenszel test: does high priority associate
    //      with FINISHED status after controlling for order year? One
    //      2×2 table per stratum from a single aggregate pass; the CMH
    //      statistic (continuity-corrected) and the Mantel-Haenszel
    //      pooled odds ratio are closed forms over the |strata|-row
    //      relation. This is the stratified A/B test q_ab_test cannot
    //      express: a confounder that shifts both margins per stratum
    //      would fool the pooled 2×2 (Simpson's paradox); CMH conditions
    //      it away.
    QueryDef.checked(
      "q_cmh_test",
      """WITH s AS (
        |  SELECT year(o_orderdate) AS stratum,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |         THEN 1 ELSE 0 END AS x,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders
        |), t AS (
        |  SELECT stratum,
        |    sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
        |    sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
        |    sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS d,
        |    count(*) AS n
        |  FROM s GROUP BY stratum
        |), agg AS (
        |  SELECT count(*) AS k, sum(a) AS sa,
        |    CAST(sum(CAST(CAST(a + b AS DOUBLE) * (a + c) / n AS DECIMAL(38,12))) AS DOUBLE) AS se,
        |    CAST(sum(CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
        |      / (CAST(n AS DOUBLE) * n * (n - 1)) AS DECIMAL(38,12))) AS DOUBLE) AS sv,
        |    CAST(sum(CAST(CAST(a AS DOUBLE) * d / n AS DECIMAL(38,12))) AS DOUBLE) AS sad,
        |    CAST(sum(CAST(CAST(b AS DOUBLE) * c / n AS DECIMAL(38,12))) AS DOUBLE) AS sbc
        |  FROM t
        |)
        |SELECT CAST(k AS INT) AS n_strata, CAST(sa AS BIGINT) AS sum_a,
        |  round(se, 6) AS expected_a,
        |  round((abs(sa - se) - 0.5) * (abs(sa - se) - 0.5) / sv, 6)
        |    AS cmh_stat,
        |  round(sad / sbc, 6) AS mh_odds_ratio
        |FROM agg""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir).orders
        .select(year(col("o_orderdate")).as("stratum"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0).as("x"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"))
        .groupBy("stratum")
        .agg(sum(when(col("x") === 1 && col("y") === 1, 1).otherwise(0)).as("a"),
          sum(when(col("x") === 1 && col("y") === 0, 1).otherwise(0)).as("b"),
          sum(when(col("x") === 0 && col("y") === 1, 1).otherwise(0)).as("c"),
          sum(when(col("x") === 0 && col("y") === 0, 1).otherwise(0)).as("d"),
          count(lit(1)).as("n"))
      t.agg(count(lit(1)).as("k"), sum(col("a")).as("sa"),
          sum(((col("a") + col("b")).cast("double") * (col("a") + col("c"))
            / col("n")).cast("decimal(38,12)")).cast("double").as("se"),
          sum(((col("a") + col("b")).cast("double") * (col("c") + col("d"))
            * (col("a") + col("c")) * (col("b") + col("d"))
            / (col("n").cast("double") * col("n") * (col("n") - 1))).cast("decimal(38,12)")).cast("double").as("sv"),
          sum((col("a").cast("double") * col("d") / col("n")).cast("decimal(38,12)")).cast("double").as("sad"),
          sum((col("b").cast("double") * col("c") / col("n")).cast("decimal(38,12)")).cast("double").as("sbc"))
        .select(col("k").cast("int").as("n_strata"),
          col("sa").cast("long").as("sum_a"),
          round(col("se"), 6).as("expected_a"),
          round((abs(col("sa") - col("se")) - 0.5)
            * (abs(col("sa") - col("se")) - 0.5) / col("sv"), 6).as("cmh_stat"),
          round(col("sad") / col("sbc"), 6).as("mh_odds_ratio"))
    },

    // ---- UCB1 bandit scoring: treat event types as arms, value as
    //      reward (normalized to [0, 1] by the global max so the
    //      sqrt(2 ln N / n) exploration bonus is on the canonical
    //      scale). The serving loop this feeds recomputes one bounded
    //      aggregate per round — no per-decision state. The chosen flag
    //      compares 1e-6-ROUNDED scores, so a final-ulp ln/sqrt
    //      difference between engines cannot flip the argmax.
    QueryDef.checked(
      "q_ucb_bandit",
      """WITH mx AS (
        |  SELECT max(CAST(round(value * 100) AS BIGINT)) AS maxc,
        |    count(*) AS nt
        |  FROM events
        |), arms AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS s
        |  FROM events GROUP BY event_type
        |), scored AS (
        |  SELECT event_type, n,
        |    CAST(s AS DOUBLE) / n / maxc AS mean_r,
        |    CAST(s AS DOUBLE) / n / maxc
        |      + sqrt(2.0 * ln(CAST(nt AS DOUBLE)) / n) AS ucb
        |  FROM arms, mx
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pulls,
        |  round(mean_r, 6) AS mean_reward,
        |  round(ucb, 6) AS ucb_score,
        |  round(ucb, 6) = max(round(ucb, 6)) OVER () AS chosen
        |FROM scored ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val mx = Tables(spark, dir).events
        .agg(max(expr("CAST(round(value * 100) AS BIGINT)")).as("maxc"),
          count(lit(1)).as("nt"))
      val arms = Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("s"))
      val meanR = col("s").cast("double") / col("n") / col("maxc")
      arms.crossJoin(broadcast(mx))
        .select(col("event_type"), col("n"),
          meanR.as("mean_r"),
          (meanR + sqrt(lit(2.0) * log(col("nt").cast("double")) / col("n")))
            .as("ucb"))
        // |arms|-row chooser window, bounded by the event-type vocabulary
        .select(col("event_type"), col("n").cast("long").as("n_pulls"),
          round(col("mean_r"), 6).as("mean_reward"),
          round(col("ucb"), 6).as("ucb_score"),
          // |arms| rows: measured 5 @ sf0.01 AND sf0.1 (PlanProbe r7)
          (round(col("ucb"), 6) ===
            max(round(col("ucb"), 6)).over(Window.partitionBy())).as("chosen"))
        .orderBy("event_type")
    },

    // ---- instrumental-variable 2SLS (one instrument, closed form):
    //      OLS of price on item count is confounded; instrumenting with
    //      the urgency flag gives β_IV = cov(z,y)/cov(z,x) — the Wald
    //      estimator — alongside the OLS slope and the first-stage
    //      coefficient (the weak-instrument check: a first stage near 0
    //      means β_IV is noise, and the numbers here show exactly
    //      that). One join + one moments aggregate; everything after is
    //      1-row arithmetic.
    QueryDef.checked(
      "q_iv_2sls",
      """WITH d AS (
        |  SELECT o.o_orderkey,
        |    CAST(l.n_items AS DOUBLE) AS x,
        |    o.o_totalprice AS y,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |         THEN 1.0 ELSE 0.0 END AS z
        |  FROM orders o JOIN (
        |    SELECT l_orderkey, count(*) AS n_items FROM lineitem
        |    GROUP BY l_orderkey
        |  ) l ON l.l_orderkey = o.o_orderkey
        |), m AS (
        |  SELECT count(*) AS n, sum(x) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy, sum(z) AS sz,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(z * y AS DECIMAL(38,12))) AS DOUBLE) AS szy, sum(z * x) AS szx,
        |    sum(x * x) AS sxx, sum(z * z) AS szz
        |  FROM d
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_ols,
        |  round((n * szy - sz * sy) / (n * szx - sz * sx), 6) AS beta_iv,
        |  round((n * szx - sz * sx) / (n * szz - sz * sz), 6)
        |    AS first_stage_coef
        |FROM m""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val items = t.lineitem.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"))
      t.orders.join(items, col("l_orderkey") === col("o_orderkey"))
        .select(col("n_items").cast("double").as("x"),
          col("o_totalprice").as("y"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0)
            .otherwise(0.0).as("z"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("y")).cast("decimal(38,12)")).cast("double").as("sy"), sum(col("z")).as("sz"),
          sum((col("x") * col("y")).cast("decimal(38,12)")).cast("double").as("sxy"),
          sum((col("z") * col("y")).cast("decimal(38,12)")).cast("double").as("szy"),
          sum(col("z") * col("x")).as("szx"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("z") * col("z")).as("szz"))
        .select(col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("beta_ols"),
          round((col("n") * col("szy") - col("sz") * col("sy"))
            / (col("n") * col("szx") - col("sz") * col("sx")), 6)
            .as("beta_iv"),
          round((col("n") * col("szx") - col("sz") * col("sx"))
            / (col("n") * col("szz") - col("sz") * col("sz")), 6)
            .as("first_stage_coef"))
    },

    // ---- regression discontinuity: local linear fits on each side of
    //      a 250k price cutoff (±100k bandwidth), jump = intercept
    //      difference AT the cutoff. The band filter prunes at the
    //      scan; each side's fit is a closed form over one moments
    //      aggregate — the whole design is two rows of arithmetic.
    QueryDef.checked(
      "q_regression_discontinuity",
      """WITH d AS (
        |  SELECT (o_totalprice - 250000.0) / 100000.0 AS r,
        |    CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
        |    CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS side
        |  FROM orders
        |  WHERE o_totalprice >= 150000.0 AND o_totalprice < 350000.0
        |), m AS (
        |  SELECT side, count(*) AS n, CAST(sum(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS sr, sum(y) AS sy,
        |    CAST(sum(CAST(r * y AS DECIMAL(38,12))) AS DOUBLE) AS sry,
        |    CAST(sum(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) AS srr
        |  FROM d GROUP BY side
        |), fit AS (
        |  SELECT side, n,
        |    (n * sry - sr * sy) / (n * srr - sr * sr) AS slope,
        |    sy / n - (n * sry - sr * sy) / (n * srr - sr * sr) * sr / n
        |      AS intercept
        |  FROM m
        |)
        |SELECT
        |  max(CASE WHEN side = 0 THEN n END) AS n_left,
        |  max(CASE WHEN side = 1 THEN n END) AS n_right,
        |  round(max(CASE WHEN side = 0 THEN intercept END), 6) AS y_left,
        |  round(max(CASE WHEN side = 1 THEN intercept END), 6) AS y_right,
        |  round(max(CASE WHEN side = 1 THEN intercept END)
        |      - max(CASE WHEN side = 0 THEN intercept END), 6) AS rd_jump,
        |  round(max(CASE WHEN side = 0 THEN slope END), 6) AS slope_left,
        |  round(max(CASE WHEN side = 1 THEN slope END), 6) AS slope_right
        |FROM fit""".stripMargin) { (spark, dir) =>
      val fit = Tables(spark, dir).orders
        .filter(col("o_totalprice") >= 150000.0 && col("o_totalprice") < 350000.0)
        .select(((col("o_totalprice") - 250000.0) / 100000.0).as("r"),
          when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"),
          when(col("o_totalprice") >= 250000.0, 1).otherwise(0).as("side"))
        .groupBy("side")
        .agg(count(lit(1)).as("n"), sum((col("r")).cast("decimal(38,12)")).cast("double").as("sr"),
          sum(col("y")).as("sy"),
          sum((col("r") * col("y")).cast("decimal(38,12)")).cast("double").as("sry"),
          sum((col("r") * col("r")).cast("decimal(38,12)")).cast("double").as("srr"))
      val slope = (col("n") * col("sry") - col("sr") * col("sy")) /
        (col("n") * col("srr") - col("sr") * col("sr"))
      val intercept = col("sy") / col("n") - slope * col("sr") / col("n")
      fit.select(col("side"), col("n"), slope.as("slope"),
          intercept.as("intercept"))
        .agg(max(when(col("side") === 0, col("n"))).as("n_left"),
          max(when(col("side") === 1, col("n"))).as("n_right"),
          max(when(col("side") === 0, col("intercept"))).as("il"),
          max(when(col("side") === 1, col("intercept"))).as("ir"),
          max(when(col("side") === 0, col("slope"))).as("sl"),
          max(when(col("side") === 1, col("slope"))).as("sr2"))
        .select(col("n_left"), col("n_right"),
          round(col("il"), 6).as("y_left"), round(col("ir"), 6).as("y_right"),
          round(col("ir") - col("il"), 6).as("rd_jump"),
          round(col("sl"), 6).as("slope_left"),
          round(col("sr2"), 6).as("slope_right"))
    },

    // ---- Cox proportional hazards, one Newton step from β = 0 (the
    //      covariate-adjusted upgrade of q_kaplan_meier): score
    //      U(0) = Σ_events (x_i − x̄(risk set)) and information
    //      I(0) = Σ_events Var_x(risk set) give β̂ = U/I and the hazard
    //      ratio for a positive-balance customer. Risk-set sums come
    //      from DURATION-level suffix cumulatives: aggregating per
    //      distinct duration FIRST makes the window both tie-correct
    //      (risk set = everyone with t_j ≥ t_i, ties included) and
    //      bounded — distinct day-durations are calendar-capped, so the
    //      cumulative never sees a corpus-sized partition. Censoring is
    //      adaptive (last order > max date − 180 d ⇒ censored), so the
    //      event rate survives any scale factor's date span.
    QueryDef.checked(
      "q_cox_step",
      """WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
        |cust AS (
        |  SELECT o.o_custkey,
        |    CAST(date_diff('day', min(o.o_orderdate), max(o.o_orderdate))
        |      AS BIGINT) AS t,
        |    CASE WHEN max(o.o_orderdate) < (SELECT m FROM mx)
        |        - INTERVAL 180 DAY THEN 1 ELSE 0 END AS ev,
        |    CASE WHEN max(c.c_acctbal) > 0 THEN 1 ELSE 0 END AS x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY o.o_custkey
        |), pt AS (
        |  SELECT t, count(*) AS n_t, sum(x) AS sx_t, sum(ev) AS d_t,
        |    sum(ev * x) AS dx_t
        |  FROM cust GROUP BY t
        |), risk AS (
        |  SELECT t, d_t, dx_t,
        |    sum(n_t) OVER (ORDER BY t DESC) AS sn,
        |    sum(sx_t) OVER (ORDER BY t DESC) AS sx
        |  FROM pt
        |), terms AS (
        |  SELECT t, d_t, dx_t, CAST(sx AS DOUBLE) / sn AS xbar
        |  FROM risk WHERE d_t > 0
        |), m AS (
        |  SELECT sum(d_t) AS n_events,
        |    CAST(sum(CAST(dx_t - d_t * xbar AS DECIMAL(38,12))) AS DOUBLE) AS u,
        |    CAST(sum(CAST(d_t * (xbar - xbar * xbar) AS DECIMAL(38,12))) AS DOUBLE) AS i
        |  FROM terms
        |)
        |SELECT CAST(n_events AS BIGINT) AS n_events,
        |  round(u, 6) AS score_u, round(i, 6) AS info_i,
        |  round(u / i, 6) AS beta1,
        |  round(exp(u / i), 6) AS hazard_ratio
        |FROM m""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val mx = t.orders.agg(max(col("o_orderdate")).as("m"))
      val cust = t.orders
        .join(t.customer, col("c_custkey") === col("o_custkey"))
        .groupBy("o_custkey")
        .agg(expr("CAST(datediff(max(o_orderdate), min(o_orderdate)) AS BIGINT)")
          .as("t"),
          max(col("o_orderdate")).as("last_d"),
          max(when(col("c_acctbal") > 0, 1).otherwise(0)).as("x"))
        .crossJoin(broadcast(mx))
        .select(col("t"), col("x"),
          when(col("last_d") < expr("m - INTERVAL 180 DAY"), 1)
            .otherwise(0).as("ev"))
      val pt = cust.groupBy("t")
        .agg(count(lit(1)).as("n_t"), sum(col("x")).as("sx_t"),
          sum(col("ev")).as("d_t"), sum(col("ev") * col("x")).as("dx_t"))
      // suffix window over DISTINCT tenure durations: measured 808 rows @
      // sf0.01, 1574 @ sf0.1 (PlanProbe r7) — growth is saturation toward
      // the hard bound |calendar days| ≈ 2406 (t is a day difference inside
      // the fixed order-date span), the same bound the day-grid windows ride
      val wSuf = Window.orderBy(col("t").desc)
      val terms = pt
        .withColumn("sn", sum(col("n_t")).over(wSuf))
        .withColumn("sx", sum(col("sx_t")).over(wSuf))
        .filter(col("d_t") > 0)
        .withColumn("xbar", col("sx").cast("double") / col("sn"))
      terms.agg(sum(col("d_t")).as("n_events"),
          sum((col("dx_t") - col("d_t") * col("xbar")).cast("decimal(38,12)")).cast("double").as("u"),
          sum((col("d_t") * (col("xbar") - col("xbar") * col("xbar"))).cast("decimal(38,12)")).cast("double").as("i"))
        .select(col("n_events").cast("long").as("n_events"),
          round(col("u"), 6).as("score_u"), round(col("i"), 6).as("info_i"),
          round(col("u") / col("i"), 6).as("beta1"),
          round(exp(col("u") / col("i")), 6).as("hazard_ratio"))
    },

    // ---- propensity-score matching (caliper nearest neighbor, with
    //      replacement): every 7th customer is "treated"; each treated
    //      unit matches the control with exact agreement on market
    //      segment and the closest account-balance score within a
    //      500-cent caliper (tie → lowest control key); ATT = mean
    //      matched spend difference per segment. Scale shape: the
    //      caliper is the blocking key — scores land in 500-cent
    //      buckets, treated rows explode to their 3 admissible buckets
    //      (own ±1, which losslessly covers every |Δ| ≤ caliper pair),
    //      and candidates form in an EQUI join on (segment, bucket) —
    //      never a theta join, never a cross product. Best-match is a
    //      window partitioned by treated key (bounded by bucket
    //      occupancy); outcomes arrive via keyed left joins. Scores are
    //      shifted to nonnegative before bucketing so Spark's
    //      truncating `div` and DuckDB's flooring `//` agree (the
    //      q_kmeans_iter sign lesson, applied preemptively).
    QueryDef.checked(
      "q_propensity_match",
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS score,
        |    c_custkey % 7 = 0 AS treated
        |  FROM customer
        |), spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey
        |), t AS (
        |  SELECT c_custkey AS t_key, segment, score AS t_score,
        |    score // 500 AS b
        |  FROM cust WHERE treated
        |), c AS (
        |  SELECT c_custkey AS c_key, segment, score AS c_score,
        |    score // 500 AS b
        |  FROM cust WHERE NOT treated
        |), best AS (
        |  SELECT t_key, segment, c_key FROM (
        |    SELECT t.t_key, t.segment, c.c_key,
        |      row_number() OVER (PARTITION BY t.t_key
        |        ORDER BY abs(t.t_score - c.c_score), c.c_key) AS rn
        |    FROM t JOIN c ON t.segment = c.segment
        |      AND c.b BETWEEN t.b - 1 AND t.b + 1
        |    WHERE abs(t.t_score - c.c_score) <= 500) z
        |  WHERE rn = 1
        |), m AS (
        |  SELECT b.segment,
        |    coalesce(st.cents, 0) AS t_cents,
        |    coalesce(sc.cents, 0) AS c_cents
        |  FROM best b
        |  LEFT JOIN spend st ON st.o_custkey = b.t_key
        |  LEFT JOIN spend sc ON sc.o_custkey = b.c_key
        |), nt AS (
        |  SELECT segment, count(*) AS n_treated FROM t GROUP BY segment
        |)
        |SELECT nt.segment, CAST(nt.n_treated AS BIGINT) AS n_treated,
        |  CAST(count(m.t_cents) AS BIGINT) AS n_matched,
        |  round(avg(m.t_cents), 6) AS avg_treated_cents,
        |  round(avg(m.c_cents), 6) AS avg_control_cents,
        |  round(avg(m.t_cents) - avg(m.c_cents), 6) AS att_cents
        |FROM nt LEFT JOIN m ON nt.segment = m.segment
        |GROUP BY nt.segment, nt.n_treated
        |ORDER BY nt.segment""".stripMargin) { (spark, dir) =>
      val tb = Tables(spark, dir)
      val cust = tb.customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        (expr("CAST(round(c_acctbal * 100) AS BIGINT)") + 100000).as("score"),
        (col("c_custkey") % 7 === 0).as("treated"))
      val spend = tb.orders.groupBy("o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val t = cust.filter(col("treated"))
        .select(col("c_custkey").as("t_key"), col("segment"),
          col("score").as("t_score"), expr("score div 500").as("b"))
      val ctrl = cust.filter(!col("treated"))
        .select(col("c_custkey").as("c_key"), col("segment").as("c_segment"),
          col("score").as("c_score"), expr("score div 500").as("c_b"))
      val cand = t
        .withColumn("jb", explode(array(col("b") - 1, col("b"), col("b") + 1)))
        .join(ctrl, col("segment") === col("c_segment") &&
          col("jb") === col("c_b"))
        .filter(abs(col("t_score") - col("c_score")) <= 500)
      val best = cand
        .withColumn("rn", row_number().over(Window.partitionBy("t_key")
          .orderBy(abs(col("t_score") - col("c_score")), col("c_key"))))
        .filter(col("rn") === 1)
        .select(col("t_key"), col("segment"), col("c_key"))
      val m = best
        .join(spend.select(col("o_custkey"), col("cents").as("t_cents0")),
          col("t_key") === col("o_custkey"), "left").drop("o_custkey")
        .join(spend.select(col("o_custkey"), col("cents").as("c_cents0")),
          col("c_key") === col("o_custkey"), "left").drop("o_custkey")
        .select(col("segment").as("m_segment"),
          coalesce(col("t_cents0"), lit(0L)).as("t_cents"),
          coalesce(col("c_cents0"), lit(0L)).as("c_cents"))
      val nt = t.groupBy("segment").agg(count(lit(1)).as("n_treated"))
      nt.join(m, col("segment") === col("m_segment"), "left")
        .groupBy("segment", "n_treated")
        .agg(count(col("t_cents")).as("n_matched"),
          avg(col("t_cents")).as("avg_t"), avg(col("c_cents")).as("avg_c"))
        .select(col("segment"), col("n_treated").cast("long").as("n_treated"),
          col("n_matched").cast("long").as("n_matched"),
          round(col("avg_t"), 6).as("avg_treated_cents"),
          round(col("avg_c"), 6).as("avg_control_cents"),
          round(col("avg_t") - col("avg_c"), 6).as("att_cents"))
        .orderBy("segment")
    }
  )
}
