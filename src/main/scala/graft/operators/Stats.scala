package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import Parity._

/** Statistical / subquery surface: correlated-scalar subquery shape,
  * exact percentiles, distribution moments, and ordered string
  * aggregation.
  *
  * Moments discipline: built-in stddev/corr use streaming M2 updates
  * whose accumulation order differs across engines, so the checked
  * queries compute the moments from *exact decimal power sums* (sum x,
  * sum x², sum xy are order-independent decimals; the final double
  * arithmetic is identical IEEE on both sides). StatsSpec then asserts
  * Spark's built-ins agree with the exact formulas to 1e-6 — covering
  * the built-in operator surface without hash-gate float risk.
  */
object Stats {

  val defs: Seq[QueryDef] = Seq(

    // ---- scalar subquery (decorrelated on the Spark side into a
    //      broadcast of the 1-row aggregate — the plan Catalyst builds
    //      for the SQL form too)
    QueryDef.checked(
      "q_scalar_subquery",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 3 * (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = Tables(spark, dir).orders
      val avgDf = o.agg(
        (sumMoney(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      o.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > lit(3) * col("avg_price"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- exact percentiles (linear interpolation = quantile_cont)
    QueryDef.checked(
      "q_percentiles",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      val o = Tables(spark, dir).orders
      o.groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))
        .orderBy("o_orderpriority")
    },

    // ---- approximate percentile (GK sketch). Like q_approx_distinct,
    //      the sketch value is engine-specific, so the hash-checked
    //      contract is the error bound: the approx p50 must land within
    //      2% of the exact interpolated median (ScalaTest bounds the raw
    //      estimate as well).
    QueryDef.checked(
      "q_approx_percentile",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
        |  TRUE AS approx_within_2pct
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("exact_p50"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_p50"))
        .select(col("o_orderpriority"), col("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50")) / col("exact_p50") <= 0.02)
            .as("approx_within_2pct"))
        .orderBy("o_orderpriority")
    },

    // ---- moments from exact decimal power sums: sample stddev of
    //      quantity and corr(quantity, extendedprice) per return flag
    QueryDef.checked(
      "q_stats_moments",
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag,
        |  CAST(n AS BIGINT) AS n_lines,
        |  sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
        |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
        |FROM s
        |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
      val dq = money(col("l_quantity"))
      val dp = money(col("l_extendedprice"))
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dq).cast("double").as("sx"),
          sum(dp).cast("double").as("sy"),
          sum(dq * dq).cast("double").as("sxx"),
          sum(dp * dp).cast("double").as("syy"),
          sum(dq * dp).cast("double").as("sxy"))
        .select(
          col("l_returnflag"),
          col("n").cast("long").as("n_lines"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
            .as("stddev_qty"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // ---- histogram: fixed-width binning via exact floor arithmetic
    //      (portable across engines, unlike width_bucket edge conventions)
    QueryDef.checked(
      "q_histogram",
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS bucket_lo,
        |  count(*) AS n,
        |  min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM orders
        |GROUP BY CAST(floor(o_totalprice / 50000) AS BIGINT)
        |ORDER BY bucket""".stripMargin) { (spark, dir) =>
      val bucket = floor(col("o_totalprice") / lit(50000)).cast("long")
      Tables(spark, dir).orders
        .groupBy(bucket.as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .select(col("bucket"), (col("bucket") * 50000).as("bucket_lo"),
          col("n"), col("lo"), col("hi"))
        .orderBy("bucket")
    },

    // ---- time-range window frame: trailing 7-day order count/spend per
    //      customer (value-based frame over event time — peer-defined, so
    //      deterministic under orderdate ties)
    QueryDef.checked(
      "q_window_time_range",
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL '7 days' PRECEDING AND CURRENT ROW) AS n_7d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL '7 days' PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_orders_tr")
      spark.sql(
        """SELECT o_custkey, o_orderkey,
          |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          |    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS n_7d,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate
          |    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
          |FROM graft_orders_tr
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },

    // ---- ordered string aggregation (listagg)
    QueryDef.checked(
      "q_listagg",
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy(col("o_orderpriority"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
            .as("statuses"),
          countDistinct(col("o_orderstatus")).as("n_statuses"))
        .orderBy("o_orderpriority")
    },

    // ---- chi-square drift test: has the event_type mix shifted between
    //      two snapshots (even/odd event_id halves stand in for
    //      yesterday/today)? Per-category χ² contribution of the 2×|types|
    //      homogeneity table: (o-e)²/e with e = row_tot·col_tot/N.
    //      Every output value derives from four integer counts in one
    //      row-local double expression — no float sum across rows, so the
    //      result is bit-identical at any partition count. At 100 TB the
    //      contingency table is one map-side-combined groupBy (|types|
    //      rows out of the corpus scan); the totals relation is one row,
    //      broadcast back. The per-category rows localize WHICH segment
    //      drifted — the pipeline gates shipping a new crawl on them.
    QueryDef.checked(
      "q_drift_chisq",
      """WITH o AS (
        |  SELECT event_type,
        |    count(*) FILTER (WHERE event_id % 2 = 0) AS o_a,
        |    count(*) FILTER (WHERE event_id % 2 = 1) AS o_b
        |  FROM events GROUP BY event_type
        |), tot AS (
        |  SELECT CAST(sum(o_a) AS DOUBLE) AS na, CAST(sum(o_b) AS DOUBLE) AS nb
        |  FROM o
        |)
        |SELECT event_type, o_a, o_b,
        |  round(pow(o_a - (o_a + o_b) * na / (na + nb), 2) / ((o_a + o_b) * na / (na + nb))
        |      + pow(o_b - (o_a + o_b) * nb / (na + nb), 2) / ((o_a + o_b) * nb / (na + nb)),
        |    6) AS chi2_part
        |FROM o, tot
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val o = Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(when(col("event_id") % 2 === 0, 1)).as("o_a"),
          count(when(col("event_id") % 2 === 1, 1)).as("o_b"))
      val tot = o.agg(sum(col("o_a")).cast("double").as("na"),
        sum(col("o_b")).cast("double").as("nb"))
      o.crossJoin(broadcast(tot))
        .select(col("event_type"), col("o_a"), col("o_b"),
          round(
            pow(col("o_a") - (col("o_a") + col("o_b")) * col("na") / (col("na") + col("nb")), 2)
              / ((col("o_a") + col("o_b")) * col("na") / (col("na") + col("nb"))) +
            pow(col("o_b") - (col("o_a") + col("o_b")) * col("nb") / (col("na") + col("nb")), 2)
              / ((col("o_a") + col("o_b")) * col("nb") / (col("na") + col("nb"))),
            6).as("chi2_part"))
        .orderBy("event_type")
    },

    // ---- two-sample Kolmogorov-Smirnov drift (binned): D = max over
    //      bins of |ECDF_a - ECDF_b| between the click and view `value`
    //      distributions — the continuous companion to q_drift_chisq.
    //      Deliberately BINNED (width 8 → ~64 bins), not exact: exact KS
    //      needs a global sort of both samples, while the binned ECDF is
    //      one map-side-combined groupBy to a bounded histogram — the
    //      100 TB shape — and bin width only coarsens D downward by at
    //      most the per-bin mass. The running sums and the argmax run
    //      over ≤64 rows (driver-side scale, single partition is fine).
    //      Integer cross-multiplication |sa·nb - sb·na| avoids float
    //      CDFs entirely; one division at the end.
    QueryDef.checked(
      "q_ks_drift",
      """WITH binned AS (
        |  SELECT CAST(floor(value / 8) AS BIGINT) AS bin,
        |    count(*) FILTER (WHERE event_type = 'click') AS ca,
        |    count(*) FILTER (WHERE event_type = 'view') AS cb
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1
        |), cum AS (
        |  SELECT bin,
        |    CAST(sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sa,
        |    CAST(sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sb
        |  FROM binned
        |), tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        |  FROM binned
        |)
        |SELECT na, nb, bin AS at_bin,
        |  CAST(abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) AS DOUBLE) AS ks_num,
        |  round(CAST(abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat
        |FROM cum, tot
        |ORDER BY abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) DESC, bin
        |LIMIT 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val binned = Tables(spark, dir).events
        .filter(col("event_type").isin("click", "view"))
        .groupBy(floor(col("value") / 8).cast("long").as("bin"))
        .agg(count(when(col("event_type") === "click", 1)).as("ca"),
          count(when(col("event_type") === "view", 1)).as("cb"))
      // prefix sum over value/8 bins: measured 41 rows @ sf0.01, 61 @
      // sf0.1 (PlanProbe r7) — bins track max(value), which grows ~log n
      // on this exponential-tailed metric (max 327→490→560 across
      // 1k/10k/100k events), so the relation is O(log corpus), not linear
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = binned.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      // 128-bit cross-multiplication (Decimal(38,0) ↔ the oracle's
      // HUGEINT): at real event volumes sa·nb overflows BIGINT, where
      // Spark would wrap silently and DuckDB would raise — the exact
      // wide type keeps the argmax comparison bit-exact at any count
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      binned
        .select(col("bin"), sum(col("ca")).over(w).as("sa"),
          sum(col("cb")).over(w).as("sb"))
        .crossJoin(broadcast(tot))
        .select(col("na"), col("nb"), col("bin").as("at_bin"),
          abs(col("sa").cast(d38) * col("nb") - col("sb").cast(d38) * col("na"))
            .as("ks_x"))
        .orderBy(col("ks_x").desc, col("at_bin"))
        .limit(1)
        .select(col("na"), col("nb"), col("at_bin"),
          col("ks_x").cast("double").as("ks_num"),
          round(col("ks_x").cast("double") /
            (col("na").cast("double") * col("nb").cast("double")), 6)
            .as("ks_stat"))
    },

    // ---- A/B two-proportion z-test: user_id parity stands in for arm
    //      assignment; the binary outcome is odd-purchase-count — on
    //      this synthetic corpus every user purchases, so "any
    //      purchase" would be degenerate (p=1), while count parity is a
    //      deterministic ≈50% label that exercises the test's math. The
    //      pooled-variance z statistic and the 5% verdict complete the
    //      hypothesis-testing trio next to χ² (categorical drift) and
    //      KS (continuous drift). One corpus aggregation to per-user
    //      rows (shuffles on user_id), one to the 2-row arm table;
    //      everything after runs on four integers in one row-local
    //      double expression — the test costs one scan at any event
    //      volume. The variance term is nullif-guarded: an
    //      all-converted or none-converted pool yields z = NULL /
    //      significant = false, not a divide-by-zero (ANSI Spark
    //      raises, DuckDB returns inf — the guard keeps both engines on
    //      the same value).
    QueryDef.checked(
      "q_ab_test",
      """WITH pu AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2 AS BIGINT) AS conv
        |  FROM events GROUP BY user_id
        |), arms AS (
        |  SELECT
        |    CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |    CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS x_a,
        |    CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
        |    CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS x_b
        |  FROM pu
        |), zc AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
        |      / nullif(sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |               * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |               * (1.0 / n_a + 1.0 / n_b)), 0) AS z
        |  FROM arms
        |)
        |SELECT n_a, x_a, n_b, x_b,
        |  round(CAST(x_a AS DOUBLE) / n_a, 6) AS conv_a,
        |  round(CAST(x_b AS DOUBLE) / n_b, 6) AS conv_b,
        |  round(z, 6) AS z,
        |  coalesce(abs(z) > 1.96, false) AS significant
        |FROM zc""".stripMargin) { (spark, dir) =>
      val pu = Tables(spark, dir).events
        .groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) % 2)
          .cast("long").as("conv"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      val arms = pu.agg(
        count(when(col("arm") === 0, 1)).cast("long").as("n_a"),
        sum(when(col("arm") === 0, col("conv"))).cast("long").as("x_a"),
        count(when(col("arm") === 1, 1)).cast("long").as("n_b"),
        sum(when(col("arm") === 1, col("conv"))).cast("long").as("x_b"))
      val pA = col("x_a").cast("double") / col("n_a")
      val pB = col("x_b").cast("double") / col("n_b")
      val pool = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
      val z = (pA - pB) / nullif(
        sqrt(pool * (lit(1) - pool) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))),
        lit(0d))
      arms
        .withColumn("z_raw", z)
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          round(pA, 6).as("conv_a"), round(pB, 6).as("conv_b"),
          round(col("z_raw"), 6).as("z"),
          coalesce(abs(col("z_raw")) > 1.96, lit(false)).as("significant"))
    },

    // ---- Poisson-bootstrap confidence interval for mean order value:
    //      the ONE-PASS bootstrap big-data systems actually run — no
    //      resampled copies of the data; each row contributes a
    //      Poisson(1) weight to each of 32 replicas, drawn from a
    //      content hash (row key × replica id), so the whole interval
    //      is reproducible and costs one scan with 32 integer
    //      accumulator pairs. The inverse-CDF thresholds are integer
    //      literals; Σw and Σw·cents are exact BIGINTs per replica; the
    //      interval is the 2nd/31st order statistic of the 32 replica
    //      means (≈95% coverage). At 100 TB the per-replica partials
    //      combine map-side — the CI costs the same as 32 sums.
    QueryDef.checked(
      "q_bootstrap_ci",
      """WITH base AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), weighted AS (
        |  SELECT j AS replica,
        |    CASE
        |      WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |      WHEN u < 996340 THEN 4 ELSE 5 END AS w,
        |    cents
        |  FROM (
        |    SELECT b.o_orderkey, b.cents, t.j,
        |      CAST(concat('0x', substring(md5(concat(CAST(b.o_orderkey AS VARCHAR), '_', CAST(t.j AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS u
        |    FROM base b, range(32) t(j)) s
        |), means AS (
        |  SELECT replica,
        |    CAST(sum(CAST(w AS BIGINT) * cents) AS DOUBLE)
        |      / CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS m
        |  FROM weighted GROUP BY replica
        |), ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, replica) AS rn FROM means
        |), est AS (
        |  SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS full_mean FROM base
        |)
        |SELECT CAST(32 AS BIGINT) AS n_replicas,
        |  round(est.full_mean / 100, 6) AS mean_value,
        |  round((SELECT m FROM ranked WHERE rn = 2) / 100, 6) AS ci_lo,
        |  round((SELECT m FROM ranked WHERE rn = 31) / 100, 6) AS ci_hi
        |FROM est""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables(spark, dir).orders
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      // the single small parquet split would otherwise run the whole
      // ×32-replica MD5 expansion in ONE task; spread the (tiny) base
      // BEFORE the explode so the heavy stage is partition-parallel
      // (Tables.spread: explicit count, so AQE cannot coalesce the
      // byte-small but compute-heavy stage back to one partition)
      val weighted = Tables.spread(base, col("o_orderkey"))
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(31))).as("j"))
        .withColumn("u",
          Dedup.md5h64(concat(col("o_orderkey").cast("string"), lit("_"),
            col("j").cast("string"))) % 1000000)
        .withColumn("w",
          when(col("u") < 367879, 0).when(col("u") < 735759, 1)
            .when(col("u") < 919699, 2).when(col("u") < 981012, 3)
            .when(col("u") < 996340, 4).otherwise(5))
      // 32 rows, but its parent is the corpus × replicas MD5 pipeline —
      // checkpoint so the lo/hi branches don't each recompute it
      val means = weighted.groupBy(col("j").as("replica"))
        .agg((sum(col("w").cast("long") * col("cents")).cast("double") /
          sum(col("w").cast("long")).cast("long")).as("m"))
        .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("replica"))))
        .transform(localCheckpoint)
      val est = base.agg(
        (sum(col("cents")).cast("double") / count(lit(1))).as("full_mean"))
      est
        .crossJoin(broadcast(means.filter(col("rn") === 2).select(col("m").as("lo"))))
        .crossJoin(broadcast(means.filter(col("rn") === 31).select(col("m").as("hi"))))
        .select(lit(32L).as("n_replicas"),
          round(col("full_mean") / 100, 6).as("mean_value"),
          round(col("lo") / 100, 6).as("ci_lo"),
          round(col("hi") / 100, 6).as("ci_hi"))
    },

    // ---- winsorization: clip order totals at the exact [p05, p95]
    //      bounds and report per-status clip counts and the winsorized
    //      mean — the outlier treatment a feature pipeline applies
    //      before model fitting. Bounds come from the exact percentile
    //      over integer cents (interpolation lands on halves, so ×2
    //      keeps EVERY clipped value an integer — the winsorized sum is
    //      a long, order-independent). The 1-row bound relation
    //      broadcasts; production swaps exact percentile for
    //      approx_percentile without touching the clip stage.
    QueryDef.checked(
      "q_winsorize",
      """WITH c AS (
        |  SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), b AS (
        |  SELECT CAST(round(quantile_cont(cents, 0.05) * 2) AS BIGINT) AS lo2,
        |    CAST(round(quantile_cont(cents, 0.95) * 2) AS BIGINT) AS hi2
        |  FROM c
        |)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN cents * 2 < lo2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN cents * 2 > hi2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  round(CAST(sum(greatest(least(cents * 2, hi2), lo2)) AS DOUBLE)
        |    / (200.0 * count(*)), 6) AS mean_winsor,
        |  round(CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)), 6) AS mean_raw
        |FROM c, b
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val c = Tables(spark, dir).orders
        .select(col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val b = c.agg(
        expr("CAST(round(percentile(cents, 0.05D) * 2) AS BIGINT)").as("lo2"),
        expr("CAST(round(percentile(cents, 0.95D) * 2) AS BIGINT)").as("hi2"))
      c.crossJoin(broadcast(b))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") * 2 < col("lo2"), 1).otherwise(0)).cast("long")
            .as("n_clip_lo"),
          sum(when(col("cents") * 2 > col("hi2"), 1).otherwise(0)).cast("long")
            .as("n_clip_hi"),
          round(sum(greatest(least(col("cents") * 2, col("hi2")), col("lo2")))
            .cast("double") / (lit(200.0) * count(lit(1))), 6)
            .as("mean_winsor"),
          round(sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1))), 6)
            .as("mean_raw"))
        .orderBy("o_orderstatus")
    },

    // ---- mutual information between market segment and order
    //      priority: the categorical feature-relevance score a feature-
    //      selection pass computes per (feature, label) pair. PMI terms
    //      are fixed-point 1e-9 longs (the ln argument is the same
    //      integer-derived rational on both engines), so the MI sum is
    //      order-independent; joint/marginal relations are domain-
    //      bounded (5×5) and broadcast. One fact-sized keyed aggregate.
    QueryDef.checked(
      "q_mutual_info",
      """WITH f AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |), joint AS (
        |  SELECT seg, pri, count(*) AS nij FROM f GROUP BY seg, pri
        |), ms AS (
        |  SELECT seg, count(*) AS ni FROM f GROUP BY seg
        |), mp AS (
        |  SELECT pri, count(*) AS nj FROM f GROUP BY pri
        |), tot AS (
        |  SELECT count(*) AS n FROM f
        |), cells AS (
        |  SELECT j.seg, j.pri, j.nij,
        |    CAST(round(ln((CAST(j.nij AS DOUBLE) * t.n) /
        |      (CAST(ms.ni AS DOUBLE) * mp.nj)) * 1000000000) AS BIGINT)
        |      AS pmi_fp,
        |    t.n AS n
        |  FROM joint j
        |  JOIN ms ON ms.seg = j.seg
        |  JOIN mp ON mp.pri = j.pri
        |  CROSS JOIN tot t
        |)
        |SELECT seg, pri, nij, round(pmi_fp / 1000000000.0, 6) AS pmi,
        |  round(sum(nij * pmi_fp) OVER () / (1000000000.0 * n), 6) AS mi_total
        |FROM cells
        |ORDER BY seg, pri""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val f = t.orders
        .join(t.customer, col("c_custkey") === col("o_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
        .transform(localCheckpoint) // four aggregate consumers of one fact join
      val joint = f.groupBy("seg", "pri").agg(count(lit(1)).as("nij"))
      val ms = f.groupBy("seg").agg(count(lit(1)).as("ni"))
      val mp = f.groupBy("pri").agg(count(lit(1)).as("nj"))
      val tot = f.agg(count(lit(1)).as("n"))
      joint
        .join(broadcast(ms), Seq("seg"))
        .join(broadcast(mp), Seq("pri"))
        .crossJoin(broadcast(tot))
        .select(col("seg"), col("pri"), col("nij"),
          expr("""CAST(round(ln((CAST(nij AS DOUBLE) * n) /
            (CAST(ni AS DOUBLE) * nj)) * 1000000000) AS BIGINT)""")
            .as("pmi_fp"),
          col("n"))
        .select(col("seg"), col("pri"), col("nij"),
          round(col("pmi_fp") / lit(1000000000.0), 6).as("pmi"),
          // |seg×pri| cells: measured 25 @ sf0.01 AND sf0.1 (PlanProbe r7)
          round(sum(col("nij") * col("pmi_fp"))
            .over(Window.partitionBy())
            / (lit(1000000000.0) * col("n")), 6).as("mi_total"))
        .orderBy("seg", "pri")
    },

    // ---- sequential probability ratio test monitor (Wald SPRT): the
    //      always-on experiment monitor that decides H1 (p=0.5) vs H0
    //      (p=0.3) the moment the cumulative log-likelihood ratio
    //      crosses ±ln(19) (α=β=0.05), instead of waiting for a fixed
    //      horizon. The per-event increments are two integer constants
    //      (1e9-scaled ln ratios, rounded ONCE at plan build), so the
    //      running LLR is an exact integer cumsum — the window is the
    //      only shuffle, keyed by experiment at scale (here one global
    //      sequence sampled every 1000 events).
    QueryDef.checked(
      "q_sprt_monitor",
      """WITH seq AS (
        |  SELECT event_id,
        |    sum(CASE WHEN value >= 50
        |      THEN CAST(round(ln(0.5 / 0.3) * 1000000000) AS BIGINT)
        |      ELSE CAST(round(ln(0.5 / 0.7) * 1000000000) AS BIGINT) END)
        |      OVER (ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr_fp,
        |    sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_succ
        |  FROM events
        |)
        |SELECT event_id, CAST(n_succ AS BIGINT) AS n_succ,
        |  round(llr_fp / 1000000000.0, 6) AS llr,
        |  CASE WHEN llr_fp >= CAST(round(ln(19.0) * 1000000000) AS BIGINT)
        |         THEN 'accept_h1'
        |       WHEN llr_fp <= -CAST(round(ln(19.0) * 1000000000) AS BIGINT)
        |         THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM seq
        |WHERE event_id % 1000 = 999
        |ORDER BY event_id""".stripMargin) { (spark, dir) =>
      val incPos = math.round(math.log(0.5 / 0.3) * 1e9)
      val incNeg = math.round(math.log(0.5 / 0.7) * 1e9)
      val bound = math.round(math.log(19.0) * 1e9)
      // both running sums share ONE RangeRank prefix scan (one range
      // exchange, one offset pass) — no single-partition window
      val inc = Tables(spark, dir).events
        .select(col("event_id"), (col("value") >= 50).as("succ"))
        .select(col("event_id"),
          when(col("succ"), incPos).otherwise(incNeg).as("llr_inc"),
          when(col("succ"), 1L).otherwise(0L).as("succ_inc"))
      graft.util.RangeRank.withGlobalCumSums(inc,
          Seq("llr_inc" -> "llr_fp", "succ_inc" -> "n_succ"),
          spark.sessionState.conf.numShufflePartitions, col("event_id"))
        .filter(col("event_id") % 1000 === 999)
        .select(col("event_id"), col("n_succ").cast("long").as("n_succ"),
          round(col("llr_fp") / lit(1000000000.0), 6).as("llr"),
          when(col("llr_fp") >= bound, "accept_h1")
            .when(col("llr_fp") <= -bound, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("event_id")
    },

    // ---- population stability index: the third drift detector beside
    //      χ² (q_drift_chisq) and KS (q_ks_drift) — the industry-
    //      standard model-monitoring metric, Σ (p−q)·ln(p/q) over fixed
    //      value bins, first half-month as reference vs second as
    //      current. Add-1 smoothing keeps empty bins finite and
    //      deterministic. One scan bins and splits, one 10-row
    //      aggregate; shares and the ln() run over 10 bounded rows.
    QueryDef.checked(
      "q_psi_drift",
      """WITH b AS (
        |  SELECT least(CAST(floor(value / 50) AS INT), 9) AS bin,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |         THEN 1 ELSE 0 END AS is_ref
        |  FROM events
        |), c AS (
        |  SELECT bin,
        |    CAST(sum(is_ref) AS BIGINT) AS n_ref,
        |    CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin
        |), s AS (
        |  SELECT bin, n_ref, n_cur,
        |    CAST(n_ref + 1 AS DOUBLE)
        |      / (sum(n_ref) OVER () + 10) AS pr,
        |    CAST(n_cur + 1 AS DOUBLE)
        |      / (sum(n_cur) OVER () + 10) AS pc
        |  FROM c
        |)
        |SELECT bin, n_ref, n_cur,
        |  round((pc - pr) * ln(pc / pr), 6) AS psi_term
        |FROM s
        |ORDER BY bin""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val c = Tables(spark, dir).events
        .select(least(floor(col("value") / 50).cast("int"), lit(9)).as("bin"),
          when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1)
            .otherwise(0).as("is_ref"))
        .groupBy("bin")
        .agg(sum(col("is_ref")).cast("long").as("n_ref"),
          sum(lit(1) - col("is_ref")).cast("long").as("n_cur"))
      // the unpartitioned windows run over the capped bin aggregate:
      // measured 9 rows @ sf0.01, 10 @ sf0.1 (PlanProbe r7; least(…,9) cap)
      val wAll = Window.partitionBy()
      c.select(col("bin"), col("n_ref"), col("n_cur"),
          ((col("n_ref") + 1).cast("double") /
            (sum(col("n_ref")).over(wAll) + 10)).as("pr"),
          ((col("n_cur") + 1).cast("double") /
            (sum(col("n_cur")).over(wAll) + 10)).as("pc"))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
            .as("psi_term"))
        .orderBy("bin")
    },

    // ---- Mann-Whitney U (Wilcoxon rank-sum): the nonparametric
    //      two-sample test — does `value` differ in distribution
    //      between purchase events and the rest, no normality assumed.
    //      Rank arithmetic stays INTEGER throughout via doubled
    //      tie-averaged ranks (r2 = min_rank + max_rank per tie group),
    //      derived from a RangeRank prefix scan over the DISTINCT-value
    //      relation — no single-partition window, no float ranks, so
    //      U replays bit-identically on any partitioning. The normal
    //      approximation applies the full tie-corrected variance;
    //      doubles enter only in that final z step.
    QueryDef.checked(
      "q_mann_whitney",
      """WITH pts AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_x
        |  FROM events
        |), vg AS (
        |  SELECT v, count(*) AS n_v, CAST(sum(is_x) AS BIGINT) AS n_x_v
        |  FROM pts GROUP BY v
        |), cum AS (
        |  SELECT v, n_v, n_x_v,
        |    sum(n_v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mc
        |  FROM vg
        |), r AS (
        |  SELECT n_x_v, n_v, 2 * mc - n_v + 1 AS r2
        |  FROM cum
        |), tot AS (
        |  SELECT CAST(sum(n_x_v * r2) AS BIGINT) AS r2x,
        |    CAST(sum(n_x_v) AS BIGINT) AS n1,
        |    CAST(sum(n_v) AS BIGINT) AS n,
        |    CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS tie3
        |  FROM r
        |)
        |SELECT n1, n - n1 AS n2,
        |  CAST(r2x - n1 * (n1 + 1) AS BIGINT) AS u2_x,
        |  CAST(2 * n1 * (n - n1) - (r2x - n1 * (n1 + 1)) AS BIGINT) AS u2_y,
        |  round((CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2
        |         - CAST(n1 AS DOUBLE) * (n - n1) / 2)
        |    / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12
        |           * ((n + 1) - CAST(tie3 AS DOUBLE) / (n * (n - 1)))), 6)
        |    AS z
        |FROM tot""".stripMargin) { (spark, dir) =>
      val vg = Tables(spark, dir).events
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("is_x"))
        .groupBy("v")
        .agg(count(lit(1)).as("n_v"), sum(col("is_x")).cast("long").as("n_x_v"))
      // doubled tie-averaged rank from the distinct-value prefix scan
      val r = graft.util.RangeRank.withGlobalCumSum(vg, "mc", "n_v",
          spark.sessionState.conf.numShufflePartitions, col("v"))
        .select(col("n_x_v"), col("n_v"),
          (lit(2) * col("mc") - col("n_v") + 1).as("r2"))
      r.agg(sum(col("n_x_v") * col("r2")).cast("long").as("r2x"),
          sum(col("n_x_v")).cast("long").as("n1"),
          sum(col("n_v")).cast("long").as("n"),
          sum(col("n_v") * col("n_v") * col("n_v") - col("n_v"))
            .cast("long").as("tie3"))
        .select(col("n1"), (col("n") - col("n1")).as("n2"),
          (col("r2x") - col("n1") * (col("n1") + 1)).as("u2_x"),
          (lit(2) * col("n1") * (col("n") - col("n1"))
            - (col("r2x") - col("n1") * (col("n1") + 1))).as("u2_y"),
          round(((col("r2x") - col("n1") * (col("n1") + 1)).cast("double") / 2
              - col("n1").cast("double") * (col("n") - col("n1")) / 2)
            / sqrt(col("n1").cast("double") * (col("n") - col("n1")) / 12
              * ((col("n") + 1)
                - col("tie3").cast("double") / (col("n") * (col("n") - 1)))), 6)
            .as("z"))
    },

    // ---- CUPED variance reduction: adjust each user's experiment-
    //      period metric by their pre-period covariate
    //      (y' = y − θ·(x − x̄), θ = cov(x,y)/var(x)) and report how
    //      much metric variance the adjustment removes — the standard
    //      experimentation-platform trick that shrinks A/B confidence
    //      intervals without more traffic. Per-user sums are EXACT
    //      integer cents; all power sums are exact longs; doubles enter
    //      only in the final closed-form moments (identical expression
    //      order both engines — the q_stats_moments discipline).
    QueryDef.checked(
      "q_cuped",
      """WITH per_user AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id
        |), p AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM per_user
        |)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  round((CAST(sxy AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      / (CAST(sxx AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sx AS DOUBLE) / n)), 6)
        |    AS theta,
        |  round(CAST(syy AS DOUBLE) / n - CAST(sy AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n), 6)
        |    AS var_post,
        |  round((CAST(syy AS DOUBLE) / n - CAST(sy AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      - (CAST(sxy AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      * (CAST(sxy AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      / (CAST(sxx AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sx AS DOUBLE) / n)), 6)
        |    AS var_adjusted,
        |  round(((CAST(sxy AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      * (CAST(sxy AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
        |      / (CAST(sxx AS DOUBLE) / n - CAST(sx AS DOUBLE) / n * (CAST(sx AS DOUBLE) / n)))
        |      / (CAST(syy AS DOUBLE) / n - CAST(sy AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n)), 6)
        |    AS var_reduction
        |FROM p""".stripMargin) { (spark, dir) =>
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val cents = expr("CAST(round(value * 100) AS BIGINT)")
      val p = Tables(spark, dir).events
        .groupBy("user_id")
        .agg(sum(when(col("ts") < cut, cents).otherwise(0L)).cast("long").as("x"),
          sum(when(col("ts") >= cut, cents).otherwise(0L)).cast("long").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"),
          sum(col("x") * col("y")).cast("long").as("sxy"))
      // moments in the exact same expression order as the oracle so the
      // doubles agree bit-for-bit
      def m(num: String) = expr(s"CAST($num AS DOUBLE) / n")
      val varX = m("sxx") - m("sx") * m("sx")
      val varY = m("syy") - m("sy") * m("sy")
      p.select(col("n").cast("long").as("n_users"),
        round((m("sxy") - m("sx") * m("sy")) / (m("sxx") - m("sx") * m("sx")), 6)
          .as("theta"),
        round(varY, 6).as("var_post"),
        round(varY - (m("sxy") - m("sx") * m("sy"))
          * (m("sxy") - m("sx") * m("sy")) / varX, 6).as("var_adjusted"),
        round((m("sxy") - m("sx") * m("sy")) * (m("sxy") - m("sx") * m("sy"))
          / varX / varY, 6).as("var_reduction"))
    },

    // ---- Gaussian kernel density estimate of purchase values at 11
    //      evenly spaced evaluation points, Silverman bandwidth
    //      h = 1.06·σ·n^(−1/5). The spine (11 rows, from the 1-row
    //      min/max/σ aggregate) broadcasts over ONE fact scan — the
    //      kernel sum is a map-side aggregate keyed by the 11-point id,
    //      so at 100 TB it is a single pass with an 11-row result; no
    //      per-point rescans, no corpus sort. Same closed forms (σ from
    //      Σv/Σv², exp kernel) on both engines.
    QueryDef.checked(
      "q_kde_density",
      """WITH m AS (
        |  SELECT count(*) AS n, min(value) AS lo, max(value) AS hi,
        |    sqrt((CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
        |      - CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) * CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(*))
        |      / (count(*) - 1)) AS sd
        |  FROM events WHERE event_type = 'purchase'
        |), pts AS (
        |  SELECT i, lo + i * (hi - lo) / 10.0 AS x,
        |    1.06 * sd * pow(n, -0.2) AS h, n
        |  FROM m, range(11) t(i)
        |)
        |SELECT CAST(p.i AS BIGINT) AS pt, round(p.x, 6) AS x,
        |  round(CAST(sum(CAST(exp(-(p.x - e.value) * (p.x - e.value)
        |      / (2 * p.h * p.h)) AS DECIMAL(38,18))) AS DOUBLE)
        |    / (p.n * p.h * sqrt(2 * pi())), 6) AS density
        |FROM pts p, (SELECT value FROM events
        |             WHERE event_type = 'purchase') e
        |GROUP BY p.i, p.x, p.h, p.n
        |ORDER BY pt""".stripMargin) { (spark, dir) =>
      val purch = Tables(spark, dir).events
        .filter(col("event_type") === "purchase").select("value")
      val m = purch.agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
        max(col("value")).as("hi"),
        sqrt((sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double") -
          sum((col("value")).cast("decimal(38,12)")).cast("double") * sum((col("value")).cast("decimal(38,12)")).cast("double") / count(lit(1))) /
          (count(lit(1)) - 1)).as("sd"))
      val pts = m.select(explode(expr("sequence(0, 10)")).as("i"),
          col("lo"), col("hi"), col("sd"), col("n"))
        .select(col("i"),
          (col("lo") + col("i") * (col("hi") - col("lo")) / 10.0).as("x"),
          (lit(1.06) * col("sd") * pow(col("n"), -0.2)).as("h"), col("n"))
      purch.crossJoin(broadcast(pts))
        .groupBy("i", "x", "h", "n")
        .agg(sum((exp(-(col("x") - col("value")) * (col("x") - col("value")) /
          (lit(2) * col("h") * col("h")))).cast("decimal(38,18)")).cast("double").as("ksum"))
        .select(col("i").cast("long").as("pt"), round(col("x"), 6).as("x"),
          round(col("ksum") /
            (col("n") * col("h") * sqrt(lit(2) * lit(math.Pi))), 6)
            .as("density"))
        .orderBy("pt")
    },

    // ---- KMV (bottom-k) distinct sketch via the custom mergeable
    //      [[graft.functions.KMVAggregator]] UDAF: per event type, keep
    //      the 64 smallest 60-bit user hashes and estimate distinct
    //      users as (k−1)·2⁶⁰/h_k; report the estimate against the true
    //      count and the relative error. The aggregator consumes the
    //      DISTINCT (type, hash) relation, so its result is partition-
    //      and order-invariant — which is what lets the DuckDB
    //      window-rank oracle replay the exact same k-th minimum.
    //      Unlike HLL this sketch is exact over its retained minima and
    //      merges across shards/days losslessly (bounded ≤ k-long
    //      buffers at every exchange).
    QueryDef.checked(
      "q_kmv_distinct",
      """WITH uh AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events
        |), ranked AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM uh
        |), kth AS (
        |  SELECT event_type, CAST(max(nd) AS BIGINT) AS n_true,
        |    CAST(max(CASE WHEN rn = least(nd, 64) THEN h END) AS BIGINT) AS hk,
        |    CAST(max(least(nd, 64)) AS BIGINT) AS k
        |  FROM ranked GROUP BY event_type
        |)
        |SELECT event_type, n_true, k,
        |  round(CASE WHEN n_true <= 64 THEN CAST(n_true AS DOUBLE)
        |        ELSE (k - 1) * 1152921504606846976.0 / hk END, 2) AS kmv_est,
        |  round(abs(CASE WHEN n_true <= 64 THEN CAST(n_true AS DOUBLE)
        |        ELSE (k - 1) * 1152921504606846976.0 / hk END - n_true)
        |    / n_true, 4) AS rel_err
        |FROM kth
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val uh = Tables(spark, dir).events
        .select(col("event_type"),
          expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15)," +
            " 16, 10) AS BIGINT)").as("h"))
        .distinct()
      val kmv64 = graft.functions.KMVAggregator.kmv(64)
      uh.groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_true"),
          kmv64(col("h")).as("mins"))
        .select(col("event_type"), col("n_true"),
          size(col("mins")).cast("long").as("k"),
          element_at(col("mins"), size(col("mins"))).as("hk"))
        .select(col("event_type"), col("n_true"), col("k"),
          when(col("n_true") <= 64, col("n_true").cast("double"))
            .otherwise((col("k") - 1) * lit(1152921504606846976.0) / col("hk"))
            .as("est"))
        .select(col("event_type"), col("n_true"), col("k"),
          round(col("est"), 2).as("kmv_est"),
          round(abs(col("est") - col("n_true")) / col("n_true"), 4)
            .as("rel_err"))
        .orderBy("event_type")
    },

    // ---- theta-style KMV set algebra: union/intersection/Jaccard
    //      ESTIMATES for two user populations from their k=64 minimum
    //      hash sketches alone — the union sketch is the k smallest of
    //      the merged minima with threshold θ; the intersection counts
    //      retained hashes below θ present in BOTH sketches (ρ), and
    //      est(A∩B) = ρ/k · est(∪). Exact counts ride along so the
    //      result shows the estimate AND its error. At 100 TB only the
    //      two ≤64-long sketch arrays cross the wire; populations never
    //      meet row-wise (the exact twin here is the verification
    //      harness, not the production path). All set algebra runs on
    //      bounded arrays both engines evaluate identically — the same
    //      deterministic 60-bit md5 hash as q_kmv_distinct.
    QueryDef.checked(
      "q_kmv_set_ops",
      """WITH ua AS (
        |  SELECT DISTINCT CAST(concat('0x', substring(md5(CAST(user_id
        |    AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'click'
        |), ub AS (
        |  SELECT DISTINCT CAST(concat('0x', substring(md5(CAST(user_id
        |    AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'purchase' AND value > 0.5
        |), sa AS (SELECT list_slice(list_sort(list(h)), 1, 64) AS m,
        |    count(*) AS n FROM ua),
        |sb AS (SELECT list_slice(list_sort(list(h)), 1, 64) AS m,
        |    count(*) AS n FROM ub),
        |un AS (SELECT count(*) AS n FROM (SELECT h FROM ua UNION
        |    SELECT h FROM ub)),
        |ix AS (SELECT count(*) AS n FROM (SELECT h FROM ua INTERSECT
        |    SELECT h FROM ub)),
        |merged AS (
        |  SELECT sa.n AS n_a_true, sb.n AS n_b_true, un.n AS n_union_true,
        |    ix.n AS n_inter_true,
        |    list_slice(list_sort(list_distinct(list_concat(sa.m, sb.m))),
        |      1, 64) AS mu,
        |    len(list_concat(sa.m, sb.m)) AS raw_len,
        |    sa.m AS ma, sb.m AS mb
        |  FROM sa, sb, un, ix
        |), scored AS (
        |  SELECT *, mu[len(mu)] AS theta, CAST(len(mu) AS BIGINT) AS ku,
        |    CAST(len(list_filter(list_intersect(ma, mb),
        |      x -> x <= mu[len(mu)])) AS BIGINT) AS rho
        |  FROM merged
        |)
        |SELECT CAST(n_a_true AS BIGINT) AS n_a_true,
        |  CAST(n_b_true AS BIGINT) AS n_b_true,
        |  CAST(n_union_true AS BIGINT) AS n_union_true,
        |  CAST(n_inter_true AS BIGINT) AS n_inter_true, ku, rho,
        |  round(CASE WHEN n_union_true <= 64 THEN CAST(n_union_true AS DOUBLE)
        |    ELSE (ku - 1) * 1152921504606846976.0 / theta END, 2)
        |    AS union_est,
        |  round(CAST(rho AS DOUBLE) / ku *
        |    (CASE WHEN n_union_true <= 64 THEN CAST(n_union_true AS DOUBLE)
        |     ELSE (ku - 1) * 1152921504606846976.0 / theta END), 2)
        |    AS inter_est,
        |  round(CAST(rho AS DOUBLE) / ku, 6) AS jaccard_est
        |FROM scored""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      def pop(df: org.apache.spark.sql.DataFrame) = df
        .select(expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1," +
          " 15), 16, 10) AS BIGINT)").as("h"))
        .distinct()
      val ua = pop(ev.filter(col("event_type") === "click"))
        .transform(localCheckpoint) // sketch + exact union/intersection consumers
      val ub = pop(ev.filter(col("event_type") === "purchase" &&
          col("value") > 0.5))
        .transform(localCheckpoint)
      val kmv64 = graft.functions.KMVAggregator.kmv(64)
      val sa = ua.agg(kmv64(col("h")).as("ma"), count(lit(1)).as("n_a_true"))
      val sb = ub.agg(kmv64(col("h")).as("mb"), count(lit(1)).as("n_b_true"))
      val un = ua.union(ub).distinct().agg(count(lit(1)).as("n_union_true"))
      val ix = ua.join(ub, Seq("h")).agg(count(lit(1)).as("n_inter_true"))
      sa.crossJoin(sb).crossJoin(un).crossJoin(ix)
        .withColumn("mu",
          expr("slice(array_sort(array_distinct(concat(ma, mb))), 1, 64)"))
        .withColumn("theta", expr("element_at(mu, size(mu))"))
        .withColumn("ku", expr("CAST(size(mu) AS BIGINT)"))
        .withColumn("rho", expr(
          "CAST(size(filter(array_intersect(ma, mb), x -> x <= theta)) AS BIGINT)"))
        .withColumn("u_est",
          when(col("n_union_true") <= 64, col("n_union_true").cast("double"))
            .otherwise((col("ku") - 1) * lit(1152921504606846976.0) /
              col("theta")))
        .select(col("n_a_true"), col("n_b_true"), col("n_union_true"),
          col("n_inter_true"), col("ku"), col("rho"),
          round(col("u_est"), 2).as("union_est"),
          round(col("rho").cast("double") / col("ku") * col("u_est"), 2)
            .as("inter_est"),
          round(col("rho").cast("double") / col("ku"), 6).as("jaccard_est"))
    },

    // ---- Q-Q comparison: decile-by-decile quantiles of purchase vs
    //      click values — the distribution-shape diff a KS p-value
    //      (q_ks_drift) summarizes away. Decile bounds come from
    //      per-GROUP ntile (RangeRank, partitioned by event type — two
    //      bounded range sorts, no global window), reduced to a 10-row
    //      grid; at 100 TB the same artifact comes from mergeable
    //      approx_percentile sketches, this is the exact auditor.
    QueryDef.checked(
      "q_qq_plot",
      """WITH s AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), t AS (
        |  SELECT event_type, v,
        |    ntile(10) OVER (PARTITION BY event_type ORDER BY v, event_id)
        |      AS tile
        |  FROM s
        |), qx AS (
        |  SELECT tile,
        |    max(CASE WHEN event_type = 'purchase' THEN v END) AS q_purchase,
        |    max(CASE WHEN event_type = 'click' THEN v END) AS q_click
        |  FROM (SELECT event_type, tile, max(v) AS v FROM t
        |        GROUP BY event_type, tile)
        |  GROUP BY tile
        |)
        |SELECT CAST(tile AS INT) AS decile, q_purchase, q_click,
        |  CAST(q_purchase - q_click AS BIGINT) AS diff_micro,
        |  round(CAST(q_purchase AS DOUBLE) / q_click, 6) AS ratio
        |FROM qx ORDER BY decile""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val s = Tables(spark, dir).events
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
      // per-group exact ntile: one scale-safe RangeRank pass per group
      // (2 groups — a bounded family; the general-K path would ntile on
      // (group, v) keys with per-group offsets)
      def tiles(grp: String) = graft.util.RangeRank.withGlobalNtile(
        s.filter(col("event_type") === grp), "tile", 10, parts,
        col("v"), col("event_id"))
        .groupBy("tile").agg(max(col("v")).as(s"q_$grp"))
      tiles("purchase").join(tiles("click"), Seq("tile"))
        .select(col("tile").cast("int").as("decile"),
          col("q_purchase"), col("q_click"),
          (col("q_purchase") - col("q_click")).cast("long").as("diff_micro"),
          round(col("q_purchase").cast("double") / col("q_click"), 6)
            .as("ratio"))
        .orderBy("decile")
    },

    // ---- Hill tail-index estimator: α̂ from the top-k = 100 order
    //      values — the MLE of the Pareto exponent above the k-th order
    //      statistic, complementing q_zipf_slope's rank-regression
    //      (Hill is the estimator you trust when only the extreme tail
    //      matters, e.g. sizing skew mitigations for the heaviest keys).
    //      The top-k is a TakeOrderedAndProject (per-partition heaps +
    //      one k-row merge, never a global sort); the estimator is a
    //      closed form over the bounded k rows.
    QueryDef.checked(
      "q_hill_tail_index",
      """WITH topk AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders ORDER BY cents DESC, o_orderkey LIMIT 100
        |), mn AS (
        |  SELECT min(cents) AS xk FROM topk
        |)
        |SELECT CAST(count(*) AS INT) AS k,
        |  max(mn.xk) AS threshold_cents,
        |  round(1.0 / (sum(ln(CAST(t.cents AS DOUBLE) / mn.xk))
        |    / (count(*) - 1)), 6) AS hill_alpha
        |FROM topk t, mn""".stripMargin) { (spark, dir) =>
      val topk = Tables(spark, dir).orders
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderkey"))
        .orderBy(col("cents").desc, col("o_orderkey"))
        .limit(100)
        .select("cents")
        .transform(localCheckpoint) // threshold and the log-sum share the top-k
      val mn = topk.agg(min(col("cents")).as("xk"))
      topk.crossJoin(broadcast(mn))
        .agg(count(lit(1)).as("k"), max(col("xk")).as("threshold_cents"),
          sum(log(col("cents").cast("double") / col("xk"))).as("slog"))
        .select(col("k").cast("int").as("k"), col("threshold_cents"),
          round(lit(1.0) / (col("slog") / (col("k") - 1)), 6).as("hill_alpha"))
    }
  )
}
