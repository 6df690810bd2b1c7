package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Time-series diagnostics over the daily order volume: day-of-week
  * seasonality deviations, lag-1..7 autocorrelation, and CUSUM
  * changepoint detection — the monitoring layer a warehouse runs over
  * its ingest volumes.
  *
  * Scale stance (100 TB): every query here pre-aggregates facts to ONE
  * row per day first (a keyed hash aggregate whose output is calendar-
  * sized), so the windowed/statistical stage runs over thousands of
  * rows regardless of fact volume. The global time-ordered windows are
  * day-count-sized by construction; per-entity variants partition the
  * same window by the entity key.
  *
  * Numeric discipline: all accumulations are INTEGER (counts, integer
  * cross-products, scaled CUSUM); each query performs at most one
  * double division/sqrt at the very end ([[Parity]] rules), so results
  * are partition-invariant and engine-reproducible.
  */
object TimeSeries {

  /** Calendar grid: one row per day in the observed span, zero-filled.
    * Shared shape for the autocorrelation and CUSUM queries. */
  private def dailyGrid(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir).orders
    val b = orders.agg(
      to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val spine = b.select(
      explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  private val duckGridCtes =
    """b AS (
      |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
      |    CAST(max(o_orderdate) AS DATE) AS d1 FROM orders
      |), spine AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |    AS day FROM b
      |), daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
      |  FROM orders GROUP BY 1
      |), grid AS (
      |  SELECT s.day, coalesce(d.n, 0) AS n
      |  FROM spine s LEFT JOIN daily d ON d.day = s.day
      |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- day-of-week seasonality: per-dow mean volume, and the 20
    //      days deviating hardest from their weekday's mean (permille,
    //      integer-derived). Spark's dayofweek is 1-based (Sun=1),
    //      DuckDB's 0-based — aligned by subtracting 1.
    QueryDef.checked(
      "q_dow_seasonality",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1
        |), dw AS (
        |  SELECT day, n, dayofweek(day) AS dow FROM daily
        |), agg AS (
        |  SELECT dow, CAST(sum(n) AS BIGINT) AS tot, count(*) AS days
        |  FROM dw GROUP BY dow
        |)
        |SELECT d.day, CAST(d.dow AS INTEGER) AS dow, d.n,
        |  CAST(CAST(a.tot AS DOUBLE) / a.days AS DOUBLE) AS dow_mean,
        |  1000 * d.n * a.days // a.tot - 1000 AS dev_permille
        |FROM dw d JOIN agg a ON a.dow = d.dow
        |ORDER BY abs(1000 * d.n * a.days // a.tot - 1000) DESC, d.day
        |LIMIT 20""".stripMargin) { (spark, dir) =>
      val dw = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("int"))
      // 7-row weekday profile, broadcast back over the daily series
      val agg = dw.groupBy("dow")
        .agg(sum(col("n")).cast("long").as("tot"), count(lit(1)).as("days"))
      dw.join(broadcast(agg), Seq("dow"))
        .select(col("day"), col("dow"), col("n"),
          (col("tot").cast("double") / col("days")).cast("double")
            .as("dow_mean"),
          expr("1000 * n * days div tot - 1000").as("dev_permille"))
        .orderBy(abs(col("dev_permille")).desc, col("day"))
        .limit(20)
    },

    // ---- lag-1..7 autocorrelation of daily volume over the zero-
    //      filled calendar grid: integer sums (Σx, Σy, Σxy, Σx², Σy²)
    //      per lag, one closed-form Pearson division at the end.
    QueryDef.checked(
      "q_autocorr",
      s"""WITH $duckGridCtes, lagged AS (
        |  SELECT day, n,
        |    lag(n,1) OVER w AS l1, lag(n,2) OVER w AS l2,
        |    lag(n,3) OVER w AS l3, lag(n,4) OVER w AS l4,
        |    lag(n,5) OVER w AS l5, lag(n,6) OVER w AS l6,
        |    lag(n,7) OVER w AS l7
        |  FROM grid WINDOW w AS (ORDER BY day)
        |), pairs AS (
        |  SELECT 1 AS lag_k, n AS y, l1 AS x FROM lagged WHERE l1 IS NOT NULL
        |  UNION ALL SELECT 2, n, l2 FROM lagged WHERE l2 IS NOT NULL
        |  UNION ALL SELECT 3, n, l3 FROM lagged WHERE l3 IS NOT NULL
        |  UNION ALL SELECT 4, n, l4 FROM lagged WHERE l4 IS NOT NULL
        |  UNION ALL SELECT 5, n, l5 FROM lagged WHERE l5 IS NOT NULL
        |  UNION ALL SELECT 6, n, l6 FROM lagged WHERE l6 IS NOT NULL
        |  UNION ALL SELECT 7, n, l7 FROM lagged WHERE l7 IS NOT NULL
        |), sums AS (
        |  SELECT lag_k, count(*) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY lag_k
        |)
        |SELECT CAST(lag_k AS INTEGER) AS lag_k, np AS n_pairs,
        |  round(CAST(np*sxy - sx*sy AS DOUBLE)
        |    / (sqrt(CAST(np*sxx - sx*sx AS DOUBLE))
        |       * sqrt(CAST(np*syy - sy*sy AS DOUBLE))), 6) AS r
        |FROM sums ORDER BY lag_k""".stripMargin) { (spark, dir) =>
      // global window over dailyGrid: measured 2405 rows @ sf0.01 AND
      // sf0.1 (PlanProbe r7) — the calendar span, saturated, not corpus-sized
      val w = Window.orderBy("day")
      val lagged = dailyGrid(spark, dir)
        .select(Seq(col("day"), col("n")) ++
          (1 to 7).map(k => lag(col("n"), k).over(w).as(s"l$k")): _*)
      val pairs = lagged.select(col("n").as("y"),
        expr("stack(7, 1, l1, 2, l2, 3, l3, 4, l4, 5, l5, 6, l6, 7, l7)" +
          " AS (lag_k, x)"))
        .filter(col("x").isNotNull)
      pairs.groupBy("lag_k")
        .agg(count(lit(1)).as("np"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"))
        .select(col("lag_k").cast("int").as("lag_k"), col("np").as("n_pairs"),
          round((col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("np") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
               sqrt((col("np") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6).as("r"))
        .orderBy("lag_k")
    },

    // ---- CUSUM changepoint scan: S_t = days·(Σ_{j≤t} n_j) − t·total is
    //      the mean-centered cumulative sum scaled to stay INTEGER; the
    //      5 largest |S_t| mark where the volume regime shifts.
    QueryDef.checked(
      "q_cusum_changepoint",
      s"""WITH $duckGridCtes, tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS days FROM grid
        |), cum AS (
        |  SELECT day, n,
        |    CAST(sum(n) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM grid
        |)
        |SELECT day, t AS t_index, c.n,
        |  days * c.c - t * total AS cusum_scaled
        |FROM cum c, tot
        |ORDER BY abs(days * c.c - t * total) DESC, day
        |LIMIT 5""".stripMargin) { (spark, dir) =>
      val grid = dailyGrid(spark, dir)
      val tot = grid.agg(sum(col("n")).cast("long").as("total"),
        count(lit(1)).as("days"))
      // global window over dailyGrid: measured 2405 @ sf0.01 AND sf0.1
      // (PlanProbe r7) — calendar-bounded
      val w = Window.orderBy("day")
      grid.crossJoin(broadcast(tot))
        .select(col("day"),
          row_number().over(w).cast("long").as("t_index"), col("n"),
          (col("days") * sum(col("n")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
            - row_number().over(w).cast("long") * col("total"))
            .as("cusum_scaled"))
        .orderBy(abs(col("cusum_scaled")).desc, col("day"))
        .limit(5)
    },

    // ---- naive STL decomposition: trend = centered 7-day moving
    //      average (full windows only), seasonal = weekday mean of the
    //      detrended series, residual = remainder. The detrended series
    //      is kept as an INTEGER ×7 (7·y − Σ₇y), so the weekday means
    //      are exact integer sums with one final division — no float
    //      accumulation anywhere ([[Parity]] discipline). Scale: the
    //      series is calendar-sized after the per-day pre-aggregate,
    //      the 7-row seasonal profile broadcasts back.
    QueryDef.checked(
      "q_stl_naive",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS y
        |  FROM orders GROUP BY 1
        |), win AS (
        |  SELECT day, y, dayofweek(day) AS dow,
        |    sum(y) OVER w AS s7, count(*) OVER w AS n7
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), det AS (
        |  SELECT day, y, dow, s7,
        |    CASE WHEN n7 = 7 THEN 7 * y - s7 END AS d7
        |  FROM win
        |), seas AS (
        |  SELECT dow, CAST(sum(d7) AS BIGINT) AS sd, count(d7) AS nd
        |  FROM det WHERE d7 IS NOT NULL GROUP BY dow
        |)
        |SELECT d.day, d.y,
        |  CASE WHEN d.d7 IS NOT NULL
        |    THEN round(CAST(d.s7 AS DOUBLE) / 7, 6) END AS trend,
        |  round(CAST(s.sd AS DOUBLE) / (7 * s.nd), 6) AS seasonal,
        |  CASE WHEN d.d7 IS NOT NULL
        |    THEN round(d.y - CAST(d.s7 AS DOUBLE) / 7
        |      - CAST(s.sd AS DOUBLE) / (7 * s.nd), 6) END AS resid
        |FROM det d JOIN seas s ON s.dow = d.dow
        |ORDER BY d.day""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val det = daily
        .select(col("day"), col("y"),
          (dayofweek(col("day")) - 1).cast("int").as("dow"),
          sum(col("y")).over(w).as("s7"), count(lit(1)).over(w).as("n7"))
        .withColumn("d7", when(col("n7") === 7, lit(7) * col("y") - col("s7")))
        .transform(localCheckpoint) // feeds the seasonal profile AND the final join
      val seas = det.filter(col("d7").isNotNull)
        .groupBy("dow")
        .agg(sum(col("d7")).cast("long").as("sd"), count(col("d7")).as("nd"))
      det.join(broadcast(seas), Seq("dow"))
        .select(col("day"), col("y"),
          when(col("d7").isNotNull,
            round(col("s7").cast("double") / 7, 6)).as("trend"),
          round(col("sd").cast("double") / (lit(7) * col("nd")), 6)
            .as("seasonal"),
          when(col("d7").isNotNull,
            round(col("y") - col("s7").cast("double") / 7
              - col("sd").cast("double") / (lit(7) * col("nd")), 6))
            .as("resid"))
        .orderBy("day")
    },

    // ---- forecasting feature frame: per-day revenue with lag-1/lag-7,
    //      trailing 7-day sum and coverage count, and the day-over-day
    //      volume delta — the feature-engineering projection a demand
    //      model trains on. Revenue stays DECIMAL through every lag and
    //      rolling sum (exact, order-independent); doubles appear only
    //      in the final casts.
    QueryDef.checked(
      "q_lag_features",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
        |  FROM orders GROUP BY 1
        |)
        |SELECT day, n, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(lag(rev, 1) OVER (ORDER BY day) AS DOUBLE) AS rev_lag1,
        |  CAST(lag(rev, 7) OVER (ORDER BY day) AS DOUBLE) AS rev_lag7,
        |  CAST(sum(rev) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
        |  CAST(count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_days_7d,
        |  n - lag(n, 1) OVER (ORDER BY day) AS n_delta
        |FROM daily
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // global window over the day aggregate: measured 2399 @ sf0.01,
      // 2405 @ sf0.1 (PlanProbe r7) — saturates at the calendar span
      val w = Window.orderBy("day")
      val w7 = w.rowsBetween(-6, 0)
      Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev"))
        .select(col("day"), col("n"), col("rev").cast("double").as("revenue"),
          lag(col("rev"), 1).over(w).cast("double").as("rev_lag1"),
          lag(col("rev"), 7).over(w).cast("double").as("rev_lag7"),
          sum(col("rev")).over(w7).cast("double").as("rev_7d"),
          count(lit(1)).over(w7).cast("long").as("n_days_7d"),
          (col("n") - lag(col("n"), 1).over(w)).as("n_delta"))
        .orderBy("day")
    },

    // ---- late-data audit: replay the event log in simulated arrival
    //      order (deterministic per-event network delay of event_id%30
    //      seconds), track the event-time high-watermark over what has
    //      ARRIVED, and count rows that a 10-second watermark would
    //      have dropped — the batch audit that sizes
    //      withWatermark(delay) for the streaming pipeline
    //      (q_stream_* family). The global arrival-order window is the
    //      sf-scale shortcut; the production audit runs the same window
    //      per shard/partition key.
    QueryDef.checked(
      "q_late_data_audit",
      """WITH arr AS (
        |  SELECT event_id, event_type, ts,
        |    ts + to_seconds(CAST(event_id % 30 AS BIGINT)) AS arrival_ts
        |  FROM events
        |), hw AS (
        |  SELECT event_id, event_type, ts,
        |    max(ts) OVER (ORDER BY arrival_ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM arr
        |)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN ts < wm - INTERVAL 10 SECOND THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late,
        |  round(CAST(sum(CASE WHEN ts < wm - INTERVAL 10 SECOND
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS late_share
        |FROM hw
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val isLate = col("ts") < expr("wm - INTERVAL 10 SECONDS")
      // running max over arrival order = RangeRank prefix-MAX scan with
      // the strictly-preceding frame (watermark semantics: a row cannot
      // advance the watermark it is judged against); no single-partition
      // window over the fact stream
      val arr = Tables(spark, dir).events
        .select(col("event_id"), col("event_type"), col("ts"),
          expr("timestampadd(SECOND, CAST(event_id % 30 AS INT), ts)")
            .as("arrival_ts"))
      graft.util.RangeRank.withGlobalCumMax(arr, "wm", "ts",
          frameEnd = -1,
          arr.sparkSession.sessionState.conf.numShufflePartitions,
          col("arrival_ts"), col("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(isLate, 1).otherwise(0)).cast("long").as("n_late"))
        .select(col("event_type"), col("n_events"), col("n_late"),
          round(col("n_late").cast("double") / col("n_events"), 6)
            .as("late_share"))
        .orderBy("event_type")
    },

    // ---- recency-decayed engagement score: per user,
    //      Σ value · 2^-(age in days), ages capped at 20 — the dyadic
    //      weights keep the numerator an exact integer
    //      (cents · 2^(20−age) summed as longs, one division at the
    //      end), the same bit-reproducibility trick as [[q_ewma]] but
    //      per-entity. Top-20 users. The reference day is a 1-row
    //      broadcast bound; the score is one fact-sized keyed
    //      aggregate — the standard recency feature of a churn model.
    QueryDef.checked(
      "q_decayed_score",
      """WITH b AS (
        |  SELECT CAST(max(ts) AS DATE) AS d_ref FROM events
        |), w AS (
        |  SELECT user_id,
        |    CAST(round(value * 100) AS BIGINT)
        |      * CAST(pow(2, 20 - least(date_diff('day', CAST(ts AS DATE), d_ref),
        |        20)) AS BIGINT) AS num
        |  FROM events, b
        |)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(num) AS DOUBLE) / (100.0 * 1048576.0), 6) AS score
        |FROM w
        |GROUP BY user_id
        |ORDER BY sum(num) DESC, user_id
        |LIMIT 20""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val b = ev.agg(to_date(max(col("ts"))).as("d_ref"))
      ev.crossJoin(broadcast(b))
        .select(col("user_id"),
          (expr("CAST(round(value * 100) AS BIGINT)") *
            expr("CAST(pow(2, 20 - least(datediff(d_ref, to_date(ts)), 20)) AS BIGINT)"))
            .as("num"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("num")).as("s"))
        .orderBy(col("s").desc, col("user_id"))
        .limit(20)
        .select(col("user_id"), col("n_events"),
          round(col("s").cast("double") / (lit(100.0) * lit(1048576.0)),  6)
            .as("score"))
    },

    // ---- Brown's double exponential smoothing (α = 0.3, normalized
    //      finite-history weights — pandas ewm adjust=True semantics):
    //      S1 = EWMA(y), S2 = EWMA(S1), one-step forecast
    //      2·S1 − S2 + (α/(1−α))·(S1 − S2). Each smoothing pass is a
    //      decay-weighted self-join of the per-(type, day) grid on the
    //      date key — the grid is |types|×|days| (bounded), so the
    //      quadratic join is calendar-bounded, never fact-sized; the
    //      single fact-table scan is the daily aggregate. Identical
    //      pow(0.7, Δd) expressions on both engines.
    QueryDef.checked(
      "q_brown_smoothing",
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2
        |), s1 AS (
        |  SELECT a.event_type, a.d,
        |    sum(pow(0.7, date_diff('day', b.d, a.d)) * b.y)
        |      / sum(pow(0.7, date_diff('day', b.d, a.d))) AS s1
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND b.d <= a.d
        |  GROUP BY a.event_type, a.d
        |), s2 AS (
        |  SELECT a.event_type, a.d, a.s1,
        |    sum(pow(0.7, date_diff('day', b.d, a.d)) * b.s1)
        |      / sum(pow(0.7, date_diff('day', b.d, a.d))) AS s2
        |  FROM s1 a JOIN s1 b
        |    ON b.event_type = a.event_type AND b.d <= a.d
        |  GROUP BY a.event_type, a.d, a.s1
        |)
        |SELECT event_type, CAST(d AS DATE) AS d,
        |  round(s1, 6) AS s1, round(s2, 6) AS s2,
        |  round(2 * s1 - s2 + (0.3 / 0.7) * (s1 - s2), 6) AS forecast_next
        |FROM s2
        |ORDER BY event_type, d""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).events
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("y"))
        .transform(localCheckpoint) // feeds both sides of both smoothing passes
      def smooth(grid: org.apache.spark.sql.DataFrame, valCol: String,
          outCol: String): org.apache.spark.sql.DataFrame = {
        val b = grid.select(col("event_type").as("b_type"),
          col("d").as("b_d"), col(valCol).as("b_v"))
        val decay = pow(lit(0.7), datediff(col("d"), col("b_d")))
        grid.join(b, col("b_type") === col("event_type") &&
            col("b_d") <= col("d"))
          .groupBy(grid.columns.toIndexedSeq.map(col): _*)
          .agg((sum(decay * col("b_v")) / sum(decay)).as(outCol))
      }
      val s1 = smooth(daily, "y", "s1").drop("y").transform(localCheckpoint)
      smooth(s1, "s1", "s2")
        .select(col("event_type"), to_date(col("d")).as("d"),
          round(col("s1"), 6).as("s1"), round(col("s2"), 6).as("s2"),
          round(lit(2) * col("s1") - col("s2") +
            (lit(0.3) / lit(0.7)) * (col("s1") - col("s2")), 6)
            .as("forecast_next"))
        .orderBy("event_type", "d")
    },

    // ---- cumulative unique users per event type (the growth curve):
    //      the only fact-sized shuffle is the (type, user) first-seen
    //      aggregate; new-user counts and the running total then live
    //      on the |types|×|days| grid (bounded windows, annotated).
    QueryDef.checked(
      "q_cumulative_uniques",
      """WITH fs AS (
        |  SELECT event_type, user_id,
        |    min(date_trunc('day', ts)) AS d0
        |  FROM events GROUP BY 1, 2
        |), nu AS (
        |  SELECT event_type, CAST(d0 AS DATE) AS day, count(*) AS new_users
        |  FROM fs GROUP BY 1, 2
        |)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM nu
        |ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
      val fs = Tables(spark, dir).events
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("d0"))
      val nu = fs.groupBy(col("event_type"), to_date(col("d0")).as("day"))
        .agg(count(lit(1)).as("new_users"))
      // running total over the per-type day grid — calendar-bounded
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nu.withColumn("cum_users", sum(col("new_users")).over(w).cast("long"))
        .orderBy("event_type", "day")
    },

    // ---- last-observation-carried-forward gap fill: purchase daily
    //      mean value on the FULL day spine (missing days → NULL), then
    //      `last(..., ignoreNulls)` over the ordered window — the
    //      IGNORE NULLS window surface, and the step-function
    //      complement to q_interpolate's linear fill. Spine and windows
    //      are calendar-bounded; one fact scan.
    QueryDef.checked(
      "q_locf_fill",
      """WITH b AS (
        |  SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
        |    CAST(max(date_trunc('day', ts)) AS DATE) AS d1
        |  FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS day FROM b
        |), daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
        |      / count(*), 6) AS v
        |  FROM events WHERE event_type = 'purchase' AND value > 220
        |  GROUP BY 1
        |)
        |SELECT s.day, d.v AS observed,
        |  last_value(d.v IGNORE NULLS) OVER (ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM spine s LEFT JOIN daily d ON d.day = s.day
        |ORDER BY s.day""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val b = ev.agg(to_date(min(date_trunc("day", col("ts")))).as("d0"),
        to_date(max(date_trunc("day", col("ts")))).as("d1"))
      val spine = b.select(
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = ev
        .filter(col("event_type") === "purchase" && col("value") > 220)
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(round(sum(col("value").cast("decimal(38,12)")).cast("double")
          / count(lit(1)), 6).as("v"))
      // global window over the filtered day grid: measured 30 @ sf0.01
      // AND sf0.1 (PlanProbe r7) — purchase-day aggregate, calendar-bounded
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), col("v").as("observed"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("day")
    },

    // ---- rolling 14-day Pearson correlation between the purchase and
    //      click daily-count series: integer co-moment sums over a
    //      14-row window on the (bounded) day grid, one double division
    //      per row at the edge. The co-movement monitor that flags a
    //      tracking breakage between two metrics.
    QueryDef.checked(
      "q_rolling_corr",
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        |      AS x,
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1
        |), w AS (
        |  SELECT day,
        |    CAST(count(*) OVER win AS BIGINT) AS n,
        |    CAST(sum(x) OVER win AS BIGINT) AS sx,
        |    CAST(sum(y) OVER win AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER win AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER win AS BIGINT) AS syy
        |  FROM daily
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT day,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r14
        |FROM w WHERE n = 14
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).events
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(when(col("event_type") === "purchase", 1)).cast("long")
          .as("x"),
          count(when(col("event_type") === "click", 1)).cast("long")
            .as("y"))
      // 14-row frame over the day grid: measured 30 rows @ sf0.01 AND
      // sf0.1 (PlanProbe r7) — calendar-bounded
      val win = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
      daily
        .select(col("day"),
          count(lit(1)).over(win).cast("long").as("n"),
          sum(col("x")).over(win).cast("long").as("sx"),
          sum(col("y")).over(win).cast("long").as("sy"),
          sum(col("x") * col("y")).over(win).cast("long").as("sxy"),
          sum(col("x") * col("x")).over(win).cast("long").as("sxx"),
          sum(col("y") * col("y")).over(win).cast("long").as("syy"))
        .filter(col("n") === 14)
        .select(col("day"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6).as("r14"))
        .orderBy("day")
    },

    // ---- Theil-Sen robust trend: median of pairwise slopes over the
    //      last-60-day daily order volume (1,770 pairs — the pair join
    //      is CALENDAR-bounded, so the classic O(n²) estimator is safe
    //      here; at longer horizons the windowed variant keeps the same
    //      bound). Intercept = median(y − slope·t) with the 1-row slope
    //      broadcast back. Both engines interpolate median identically.
    QueryDef.checked(
      "q_theil_sen",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1
        |), b AS (
        |  SELECT max(day) AS dmax FROM daily
        |), win AS (
        |  SELECT date_diff('day', dmax, day) + 59 AS t, n
        |  FROM daily, b
        |  WHERE date_diff('day', day, dmax) < 60
        |), slopes AS (
        |  SELECT CAST(b.n - a.n AS DOUBLE) / (b.t - a.t) AS slope
        |  FROM win a JOIN win b ON b.t > a.t
        |), sl AS (
        |  SELECT median(slope) AS slope, count(*) AS n_pairs FROM slopes
        |)
        |SELECT CAST((SELECT count(*) FROM win) AS BIGINT) AS n_days,
        |  CAST(sl.n_pairs AS BIGINT) AS n_pairs,
        |  round(sl.slope, 6) AS slope,
        |  round(median(w.n - sl.slope * w.t), 6) AS intercept
        |FROM win w, sl
        |GROUP BY sl.slope, sl.n_pairs""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val b = daily.agg(max(col("day")).as("dmax"))
      val win = daily.crossJoin(broadcast(b))
        .filter(datediff(col("dmax"), col("day")) < 60)
        .select((datediff(col("day"), col("dmax")) + 59).as("t"), col("n"))
        .transform(localCheckpoint) // feeds pair join sides + the residual pass
      val wb = win.select(col("t").as("bt"), col("n").as("bn"))
      val sl = win.join(wb, col("bt") > col("t"))
        .select(((col("bn") - col("n")).cast("double") /
          (col("bt") - col("t"))).as("slope"))
        .agg(expr("median(slope)").as("slope"),
          count(lit(1)).as("n_pairs"))
      val nDays = win.agg(count(lit(1)).as("n_days"))
      win.crossJoin(broadcast(sl)).crossJoin(broadcast(nDays))
        .groupBy("slope", "n_pairs", "n_days")
        .agg(expr("median(n - slope * t)").as("intercept"))
        .select(col("n_days").cast("long").as("n_days"),
          col("n_pairs").cast("long").as("n_pairs"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
    },

    // ---- Mann-Kendall trend test over the same 60-day window:
    //      S = Σ_{i<j} sign(y_j − y_i) (pure integer), tie-corrected
    //      variance [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, continuity-
    //      corrected z. The pair join is calendar-bounded like
    //      q_theil_sen; ties come from a |distinct y|-sized aggregate.
    QueryDef.checked(
      "q_mann_kendall",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1
        |), b AS (
        |  SELECT max(day) AS dmax FROM daily
        |), win AS (
        |  SELECT date_diff('day', dmax, day) + 59 AS t, n
        |  FROM daily, b
        |  WHERE date_diff('day', day, dmax) < 60
        |), s AS (
        |  SELECT CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                       WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT)
        |    AS s_stat
        |  FROM win a JOIN win b ON b.t > a.t
        |), ties AS (
        |  SELECT CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT count(*) AS c FROM win GROUP BY n)
        |), v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(count(*) * (count(*) - 1) * (2 * count(*) + 5) AS BIGINT)
        |      AS full_term
        |  FROM win
        |)
        |SELECT v.nd AS n_days, s.s_stat,
        |  round((v.full_term - ties.tie_term) / 18.0, 6) AS var_s,
        |  round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
        |                         WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
        |    / sqrt((v.full_term - ties.tie_term) / 18.0), 6) AS z
        |FROM s, ties, v""".stripMargin) { (spark, dir) =>
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val b = daily.agg(max(col("day")).as("dmax"))
      val win = daily.crossJoin(broadcast(b))
        .filter(datediff(col("dmax"), col("day")) < 60)
        .select((datediff(col("day"), col("dmax")) + 59).as("t"), col("n"))
        .transform(localCheckpoint) // pair join + tie groups + count
      val wb = win.select(col("t").as("bt"), col("n").as("bn"))
      val s = win.join(wb, col("bt") > col("t"))
        .agg(sum(when(col("bn") > col("n"), 1)
          .when(col("bn") < col("n"), -1).otherwise(0)).cast("long")
          .as("s_stat"))
      val ties = win.groupBy("n").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) * (lit(2) * col("c") + 5))
          .cast("long").as("tie_term"))
      val v = win.agg(count(lit(1)).cast("long").as("nd"),
        (count(lit(1)) * (count(lit(1)) - 1) * (lit(2) * count(lit(1)) + 5))
          .cast("long").as("full_term"))
      s.crossJoin(broadcast(ties)).crossJoin(broadcast(v))
        .select(col("nd").as("n_days"), col("s_stat"),
          round((col("full_term") - col("tie_term")) / 18.0, 6).as("var_s"),
          round((col("s_stat") -
            when(col("s_stat") > 0, 1).when(col("s_stat") < 0, -1)
              .otherwise(0)) /
            sqrt((col("full_term") - col("tie_term")) / 18.0), 6).as("z"))
    },

    // ---- churn labeling: classify every user by activity in two
    //      6-hour observation windows a month apart — retained (both),
    //      churned (W1 only), new (W2 only), inactive (neither; still
    //      in the log between them) — the label-generation pass of a
    //      churn model's training set, plus per-class volume and a key
    //      checksum so the hash gate pins MEMBERSHIP, not just counts.
    //      One scan aggregates per user (two conditional counts), one
    //      |users|-sized classify + 4-row rollup; at 100 TB the
    //      windows come from partition pruning on the date key, not a
    //      filter over the full log.
    QueryDef.checked(
      "q_churn_labels",
      """WITH per_user AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND ts < TIMESTAMP '2024-01-01 06:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_w1,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-30 18:00:00'
        |      AND ts < TIMESTAMP '2024-01-31 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_w2
        |  FROM events GROUP BY user_id
        |)
        |SELECT CASE WHEN n_w1 > 0 AND n_w2 > 0 THEN 'retained'
        |            WHEN n_w1 > 0 THEN 'churned'
        |            WHEN n_w2 > 0 THEN 'new'
        |            ELSE 'inactive' END AS label,
        |  count(*) AS n_users,
        |  CAST(sum(n_w1 + n_w2) AS BIGINT) AS n_window_events,
        |  CAST(sum(user_id % 1000003) AS BIGINT) AS user_checksum
        |FROM per_user
        |GROUP BY 1
        |ORDER BY label""".stripMargin) { (spark, dir) =>
      val w1a = lit("2024-01-01 00:00:00").cast("timestamp")
      val w1b = lit("2024-01-01 06:00:00").cast("timestamp")
      val w2a = lit("2024-01-30 18:00:00").cast("timestamp")
      val w2b = lit("2024-01-31 00:00:00").cast("timestamp")
      Tables(spark, dir).events
        .groupBy("user_id")
        .agg(
          sum(when(col("ts") >= w1a && col("ts") < w1b, 1).otherwise(0))
            .cast("long").as("n_w1"),
          sum(when(col("ts") >= w2a && col("ts") < w2b, 1).otherwise(0))
            .cast("long").as("n_w2"))
        .groupBy(
          when(col("n_w1") > 0 && col("n_w2") > 0, "retained")
            .when(col("n_w1") > 0, "churned")
            .when(col("n_w2") > 0, "new")
            .otherwise("inactive").as("label"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_w1") + col("n_w2")).cast("long").as("n_window_events"),
          expr("CAST(sum(user_id % 1000003) AS BIGINT)").as("user_checksum"))
        .orderBy("label")
    },

    // ---- ordered event-pattern matching (the MATCH_RECOGNIZE shape
    //      Spark lacks as a builtin): count each user's NON-OVERLAPPING
    //      CONTIGUOUS view → click → purchase runs in the first three
    //      days — a per-user left-to-right fold whose integer
    //      accumulator packs (completed_count · 4 + progress), i.e. a
    //      deterministic automaton in a higher-order function. This is
    //      the compose-from-primitives answer for sequence semantics
    //      (full MATCH_RECOGNIZE with DEFINE/AFTER MATCH SKIP would be
    //      the custom-LogicalPlan route). One shuffle on user_id; the
    //      fold runs inside the aggregate's projection; |distinct
    //      match-counts| rows out. Order is total (ts ties broken by
    //      event_id), so the automaton replays identically on any
    //      partitioning.
    QueryDef.checked(
      "q_event_pattern",
      """WITH coded AS (
        |  SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |         WHEN 'purchase' THEN 3 ELSE 0 END AS code
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
        |), folded AS (
        |  SELECT user_id,
        |    list_reduce(
        |      list_prepend(0, list(code ORDER BY ts, event_id)),
        |      (acc, x) -> CASE
        |        WHEN x = 1 THEN acc - acc % 4 + 1
        |        WHEN x = 2 AND acc % 4 = 1 THEN acc + 1
        |        WHEN x = 3 AND acc % 4 = 2 THEN acc - 2 + 4
        |        ELSE acc - acc % 4 END) AS packed
        |  FROM coded GROUP BY user_id
        |)
        |SELECT CAST(packed // 4 AS INT) AS n_matches,
        |  count(*) AS n_users,
        |  CAST(sum(user_id % 1000003) AS BIGINT) AS user_checksum
        |FROM folded
        |GROUP BY packed // 4
        |ORDER BY n_matches""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).events
        .filter(col("ts") < lit("2024-01-04 00:00:00").cast("timestamp"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "view", 1)
            .when(col("event_type") === "click", 2)
            .when(col("event_type") === "purchase", 3)
            .otherwise(0).as("code"))
        .groupBy("user_id")
        .agg(expr(
          """aggregate(
            |  transform(array_sort(collect_list(struct(ts, event_id, code))),
            |            s -> s.code),
            |  0,
            |  (acc, x) -> CASE
            |    WHEN x = 1 THEN acc - acc % 4 + 1
            |    WHEN x = 2 AND acc % 4 = 1 THEN acc + 1
            |    WHEN x = 3 AND acc % 4 = 2 THEN acc - 2 + 4
            |    ELSE acc - acc % 4 END)""".stripMargin).as("packed"))
        .groupBy(expr("CAST(packed div 4 AS INT)").as("n_matches"))
        .agg(count(lit(1)).as("n_users"),
          expr("CAST(sum(user_id % 1000003) AS BIGINT)").as("user_checksum"))
        .orderBy("n_matches")
    },

    // ---- periodogram: DFT power of the daily order-count series at
    //      candidate calendar periods (week, fortnight, month, quarter,
    //      half-year, year) — the frequency-domain periodicity detector
    //      complementing q_autocorr's lag-domain view. Each trig weight
    //      is frozen to 1e-6 fixed point so the Σ x·cos / Σ x·sin sums
    //      are EXACT integers on any partitioning (< 2^53), and the
    //      final squares are deterministic doubles. One daily aggregate
    //      (|days| rows), a bounded ×6 period cross, one keyed sum.
    QueryDef.checked(
      "q_periodogram",
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
        |    o_orderdate) AS BIGINT) AS t, count(*) AS x
        |  FROM orders GROUP BY 1
        |), periods AS (
        |  SELECT unnest([7, 14, 30, 91, 182, 365]) AS p
        |), terms AS (
        |  SELECT p.p, d.x,
        |    CAST(round(cos(2 * pi() * d.t / p.p) * 1000000) AS BIGINT) AS c_fp,
        |    CAST(round(sin(2 * pi() * d.t / p.p) * 1000000) AS BIGINT) AS s_fp
        |  FROM daily d CROSS JOIN periods p
        |), sums AS (
        |  SELECT p, count(*) AS n_days,
        |    sum(x * c_fp) AS sc, sum(x * s_fp) AS ss, sum(x) AS sx,
        |    sum(CAST(x AS DOUBLE) * x) AS sxx
        |  FROM terms GROUP BY p
        |)
        |SELECT CAST(p AS INT) AS period_days, CAST(n_days AS BIGINT) AS n_days,
        |  round((CAST(sc AS DOUBLE)/1000000)*(CAST(sc AS DOUBLE)/1000000)
        |      + (CAST(ss AS DOUBLE)/1000000)*(CAST(ss AS DOUBLE)/1000000), 2)
        |    AS power,
        |  round(((CAST(sc AS DOUBLE)/1000000)*(CAST(sc AS DOUBLE)/1000000)
        |      + (CAST(ss AS DOUBLE)/1000000)*(CAST(ss AS DOUBLE)/1000000))
        |    / (sxx - CAST(sx AS DOUBLE) * sx / n_days), 6) AS norm_power
        |FROM sums ORDER BY period_days""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Tables(spark, dir).orders
      val mn = orders.agg(min(to_date(col("o_orderdate"))).as("d0"))
      val daily = orders.crossJoin(broadcast(mn))
        .select(datediff(to_date(col("o_orderdate")), col("d0"))
          .cast("long").as("t"))
        .groupBy("t").agg(count(lit(1)).as("x"))
      val periods = Seq(7, 14, 30, 91, 182, 365).toDF("p")
      val terms = daily.crossJoin(broadcast(periods))
        .select(col("p"), col("x"),
          expr("CAST(round(cos(2 * pi() * t / p) * 1000000) AS BIGINT)")
            .as("c_fp"),
          expr("CAST(round(sin(2 * pi() * t / p) * 1000000) AS BIGINT)")
            .as("s_fp"))
      val scD = col("sc").cast("double") / 1000000
      val ssD = col("ss").cast("double") / 1000000
      terms.groupBy("p")
        .agg(count(lit(1)).as("n_days"),
          sum(col("x") * col("c_fp")).as("sc"),
          sum(col("x") * col("s_fp")).as("ss"),
          sum(col("x")).as("sx"),
          sum(col("x").cast("double") * col("x")).as("sxx"))
        .select(col("p").cast("int").as("period_days"),
          col("n_days").cast("long").as("n_days"),
          round(scD * scD + ssD * ssD, 2).as("power"),
          round((scD * scD + ssD * ssD)
            / (col("sxx") - col("sx").cast("double") * col("sx")
              / col("n_days")), 6).as("norm_power"))
        .orderBy("period_days")
    },

    // ---- binary-segmentation changepoint: the single split of the
    //      daily order-count series that maximizes SSE reduction —
    //      CUSUM (q_cusum_changepoint) detects drift online; this is
    //      the offline "where does the level actually break" answer,
    //      and recursing into each side is the full BinSeg algorithm.
    //      Gains are closed forms over prefix sums of the DAY series
    //      (bounded by the calendar span, not data volume — the window
    //      runs over ≤ |days| rows after the one fact-sized daily
    //      aggregate); prefix sums are exact integers, so the argmax
    //      is deterministic.
    QueryDef.checked(
      "q_binseg_changepoint",
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
        |    o_orderdate) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1
        |), c AS (
        |  SELECT t, x,
        |    sum(x) OVER (ORDER BY t) AS cx,
        |    sum(x * x) OVER (ORDER BY t) AS cxx,
        |    count(*) OVER (ORDER BY t) AS cn,
        |    sum(x) OVER () AS sx, sum(x * x) OVER () AS sxx,
        |    count(*) OVER () AS n
        |  FROM daily
        |), gains AS (
        |  SELECT t, cn, n,
        |    (sxx - CAST(sx AS DOUBLE) * sx / n)
        |    - ((cxx - CAST(cx AS DOUBLE) * cx / cn)
        |     + ((sxx - cxx) - CAST(sx - cx AS DOUBLE) * (sx - cx)
        |        / (n - cn))) AS gain,
        |    CAST(cx AS DOUBLE) / cn AS mean_left,
        |    CAST(sx - cx AS DOUBLE) / (n - cn) AS mean_right
        |  FROM c WHERE cn < n
        |)
        |SELECT CAST(t AS BIGINT) AS split_day, CAST(cn AS BIGINT) AS n_left,
        |  CAST(n - cn AS BIGINT) AS n_right,
        |  round(gain, 6) AS sse_reduction,
        |  round(mean_left, 6) AS mean_left,
        |  round(mean_right, 6) AS mean_right
        |FROM gains ORDER BY gain DESC, t LIMIT 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val orders = Tables(spark, dir).orders
      val mn = orders.agg(min(to_date(col("o_orderdate"))).as("d0"))
      val daily = orders.crossJoin(broadcast(mn))
        .select(datediff(to_date(col("o_orderdate")), col("d0"))
          .cast("long").as("t"))
        .groupBy("t").agg(count(lit(1)).as("x"))
      // prefix windows over the ≤ |days| series: measured 2399 @ sf0.01,
      // 2405 @ sf0.1 (PlanProbe r7) — saturates at the calendar span
      val wCum = Window.orderBy("t")
      val wAll = Window.partitionBy()
      val c = daily
        .withColumn("cx", sum(col("x")).over(wCum))
        .withColumn("cxx", sum(col("x") * col("x")).over(wCum))
        .withColumn("cn", count(lit(1)).over(wCum))
        .withColumn("sx", sum(col("x")).over(wAll))
        .withColumn("sxx", sum(col("x") * col("x")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("cn") < col("n"))
      val gain = (col("sxx") - col("sx").cast("double") * col("sx") / col("n")) -
        ((col("cxx") - col("cx").cast("double") * col("cx") / col("cn")) +
          ((col("sxx") - col("cxx")) -
            (col("sx") - col("cx")).cast("double") * (col("sx") - col("cx"))
              / (col("n") - col("cn"))))
      c.withColumn("gain", gain)
        .orderBy(col("gain").desc, col("t"))
        .limit(1)
        .select(col("t").cast("long").as("split_day"),
          col("cn").cast("long").as("n_left"),
          (col("n") - col("cn")).cast("long").as("n_right"),
          round(col("gain"), 6).as("sse_reduction"),
          round(col("cx").cast("double") / col("cn"), 6).as("mean_left"),
          round((col("sx") - col("cx")).cast("double")
            / (col("n") - col("cn")), 6).as("mean_right"))
    },

    // ---- AR(1) fit + one-step forecast on the daily order volume:
    //      conditional least squares (OLS of n_t on n_{t-1}) gives φ
    //      and the intercept in closed form from BIGINT pair sums, the
    //      innovation variance is the OLS residual variance, and the
    //      forecast extrapolates from the last observed day. The
    //      model-fitting step q_autocorr stops short of: same one
    //      corpus aggregate onto the calendar-bounded grid, same
    //      integer-sum discipline, then scalar arithmetic.
    QueryDef.checked(
      "q_ar1_forecast",
      s"""WITH $duckGridCtes, lagged AS (
        |  SELECT day, n, lag(n, 1) OVER (ORDER BY day) AS l1 FROM grid
        |), sums AS (
        |  SELECT count(*) AS np,
        |    CAST(sum(l1) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
        |    CAST(sum(l1 * n) AS BIGINT) AS sxy,
        |    CAST(sum(l1 * l1) AS BIGINT) AS sxx,
        |    CAST(sum(n * n) AS BIGINT) AS syy
        |  FROM lagged WHERE l1 IS NOT NULL
        |), last AS (
        |  SELECT max_by(n, day) AS n_last FROM grid
        |), fit AS (
        |  SELECT np, n_last,
        |    CAST(np * sxy - sx * sy AS DOUBLE)
        |      / CAST(np * sxx - sx * sx AS DOUBLE) AS phi,
        |    sx, sy, sxy, sxx, syy
        |  FROM sums, last
        |)
        |SELECT CAST(np AS BIGINT) AS n_pairs,
        |  round(phi, 6) AS phi,
        |  round((sy - phi * sx) / np, 6) AS intercept,
        |  round(((syy - CAST(sy AS DOUBLE) * sy / np)
        |    - phi * (sxy - CAST(sx AS DOUBLE) * sy / np)) / (np - 2), 6)
        |    AS sigma2_innov,
        |  CAST(n_last AS BIGINT) AS last_n,
        |  round((sy - phi * sx) / np + phi * n_last, 6) AS forecast_next
        |FROM fit""".stripMargin) { (spark, dir) =>
      val grid = dailyGrid(spark, dir).transform(localCheckpoint) // lag pass + last-day
      // lag over dailyGrid: measured 2405 @ sf0.01 AND sf0.1 (PlanProbe
      // r7) — calendar-bounded
      val lagged = grid
        .withColumn("l1", lag(col("n"), 1).over(Window.orderBy("day")))
        .filter(col("l1").isNotNull)
      val sums = lagged.agg(count(lit(1)).as("np"),
        sum(col("l1")).cast("long").as("sx"),
        sum(col("n")).cast("long").as("sy"),
        sum(col("l1") * col("n")).cast("long").as("sxy"),
        sum(col("l1") * col("l1")).cast("long").as("sxx"),
        sum(col("n") * col("n")).cast("long").as("syy"))
      val last = grid.agg(expr("max_by(n, day)").as("n_last"))
      val phi = (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("np") * col("sxx") - col("sx") * col("sx")).cast("double")
      sums.crossJoin(broadcast(last))
        .withColumn("phi", phi)
        .select(col("np").cast("long").as("n_pairs"),
          round(col("phi"), 6).as("phi"),
          round((col("sy") - col("phi") * col("sx")) / col("np"), 6)
            .as("intercept"),
          round(((col("syy") - col("sy").cast("double") * col("sy") / col("np"))
            - col("phi") * (col("sxy") - col("sx").cast("double") * col("sy")
              / col("np"))) / (col("np") - 2), 6).as("sigma2_innov"),
          col("n_last").cast("long").as("last_n"),
          round((col("sy") - col("phi") * col("sx")) / col("np")
            + col("phi") * col("n_last"), 6).as("forecast_next"))
    },

    // ---- Holt's double exponential smoothing (level + trend) over the
    //      daily event series, α = 1/5, β = 1/10 — the trend-aware
    //      upgrade of q_ewma, run as ONE recursive CTE on BOTH engines
    //      over the calendar-bounded day spine (gaps filled with 0 —
    //      a missing day IS a zero-count observation). Everything is
    //      micro-unit fixed point; divisions are sign-factored in the
    //      oracle so floor-`//` matches Spark's truncating `div` even
    //      on negative numerators (downtrends make l', b' deltas
    //      negative — this is exactly where naive ports diverge).
    //      Scale: the corpus contributes one grouped count; the
    //      recursion runs over |days| rows — the q_recursive_hierarchy
    //      frontier discipline.
    QueryDef.checked(
      "q_holt_winters",
      """WITH RECURSIVE b AS (
        |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        |  FROM events
        |), spine AS (
        |  SELECT CAST(date_diff('day', d0, CAST(unnest(
        |    generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)) AS BIGINT)
        |    AS t
        |  FROM b
        |), daily AS (
        |  SELECT s.t, coalesce(c.n, 0) * 1000000 AS y
        |  FROM spine s LEFT JOIN (
        |    SELECT CAST(date_diff('day', b.d0, CAST(ts AS DATE)) AS BIGINT)
        |      AS t, count(*) AS n
        |    FROM events, b GROUP BY 1) c ON c.t = s.t
        |), mx AS (SELECT max(t) AS tmax FROM daily),
        |hw AS (
        |  SELECT d0.t, d0.y AS l, d1.y - d0.y AS b, CAST(0 AS BIGINT) AS sae
        |  FROM daily d0, daily d1 WHERE d0.t = 0 AND d1.t = 1
        |  UNION ALL
        |  SELECT d.t,
        |    (abs(d.y + 4 * (h.l + h.b)) // 5)
        |      * (CASE WHEN d.y + 4 * (h.l + h.b) < 0 THEN -1 ELSE 1 END),
        |    (abs(((abs(d.y + 4 * (h.l + h.b)) // 5)
        |        * (CASE WHEN d.y + 4 * (h.l + h.b) < 0 THEN -1 ELSE 1 END)
        |        - h.l) + 9 * h.b) // 10)
        |      * (CASE WHEN ((abs(d.y + 4 * (h.l + h.b)) // 5)
        |        * (CASE WHEN d.y + 4 * (h.l + h.b) < 0 THEN -1 ELSE 1 END)
        |        - h.l) + 9 * h.b < 0 THEN -1 ELSE 1 END),
        |    h.sae + abs(d.y - (h.l + h.b))
        |  FROM hw h JOIN daily d ON d.t = h.t + 1
        |)
        |SELECT CAST(mx.tmax + 1 AS BIGINT) AS n_days,
        |  round(h.l / 1000000.0, 6) AS level,
        |  round(h.b / 1000000.0, 6) AS trend,
        |  round((h.l + h.b) / 1000000.0, 6) AS forecast_1,
        |  round((h.l + 2 * h.b) / 1000000.0, 6) AS forecast_2,
        |  round(h.sae / 1000000.0 / (mx.tmax - 1), 6) AS mean_abs_err
        |FROM hw h, mx WHERE h.t = mx.tmax""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val b = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      val spine = b.select(col("d0"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        .select(datediff(col("day"), col("d0")).cast("long").as("t"))
      val counts = ev.crossJoin(broadcast(b))
        .groupBy(datediff(to_date(col("ts")), col("d0")).cast("long").as("t"))
        .agg(count(lit(1)).as("n"))
      // The oracle unrolls the recurrence as a recursive CTE; here the
      // CALENDAR-BOUNDED day series collects into one array and the
      // identical integer recurrence folds inside codegen via the
      // `aggregate` higher-order function (the q_hmm_forward pattern) —
      // ONE job instead of one Spark job per recursion step (measured
      // 11.9 s → sub-second at sf0.1; the recursive-CTE surface itself
      // is exercised by q_recursive_hierarchy).
      spine.join(counts, Seq("t"), "left")
        .select(col("t"), (coalesce(col("n"), lit(0L)) * 1000000L).as("y"))
        .agg(sort_array(collect_list(struct(col("t"), col("y")))).as("a"))
        .select(size(col("a")).cast("long").as("n_days"),
          expr("""aggregate(
                 |  slice(a, 2, size(a) - 1),
                 |  named_struct(
                 |    'l', element_at(a, 1).y,
                 |    'b', element_at(a, 2).y - element_at(a, 1).y,
                 |    'sae', CAST(0 AS BIGINT)),
                 |  (acc, x) -> named_struct(
                 |    'l', (x.y + 4 * (acc.l + acc.b)) div 5,
                 |    'b', (((x.y + 4 * (acc.l + acc.b)) div 5 - acc.l)
                 |          + 9 * acc.b) div 10,
                 |    'sae', acc.sae + abs(x.y - (acc.l + acc.b))))"""
            .stripMargin).as("hw"))
        .select(col("n_days"),
          round(col("hw.l").cast("double") / 1000000.0, 6).as("level"),
          round(col("hw.b").cast("double") / 1000000.0, 6).as("trend"),
          round((col("hw.l") + col("hw.b")).cast("double") / 1000000.0, 6)
            .as("forecast_1"),
          round((col("hw.l") + lit(2) * col("hw.b")).cast("double")
            / 1000000.0, 6).as("forecast_2"),
          round(col("hw.sae").cast("double") / 1000000.0
            / (col("n_days") - 2), 6).as("mean_abs_err"))
    }
  )
}
