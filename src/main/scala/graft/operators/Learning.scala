package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Learning-adjacent batch operators: the distributed halves of model
  * fitting loops a data platform runs next to its corpus — pairwise
  * preference ranking (Bradley-Terry, the RLHF reward-model data step),
  * a rank-1 ALS half-step (collaborative filtering), the Gram-matrix +
  * power-iteration top principal direction (PCA over embeddings), one
  * label-propagation round over the trade graph, and Wilson-lower-bound
  * confidence ranking.
  *
  * Scale stance (100 TB):
  *   - Every operator here reduces the corpus to a MODEL-sized relation
  *     (5 event types, 64×64 Gram entries, one factor per user) in ONE
  *     distributed pass, then iterates on the small relation. The
  *     expensive part is always the first keyed aggregate; the update
  *     math runs on kilobytes.
  *   - [[q_bradley_terry]] derives comparisons from CONSECUTIVE events
  *     per user (lag window, linear) rather than the quadratic per-user
  *     self-join — at 100 TB the pair stream is the same size as the
  *     event stream.
  *   - [[q_pca_power]] expands each row to its 64×64 outer-product
  *     terms inline (generator, no self-join) and sums fixed-point
  *     integers, so the Gram matrix is one shuffle of 4096 keys; the
  *     two power iterations run on the 4096-row relation.
  *
  * Numeric discipline: per-term fixed-point rounding (×1e9 → BIGINT)
  * before every sum, so results are partition-order invariant; the one
  * transcendental (sqrt in Wilson) is IEEE-correctly-rounded in both
  * engines and still rounded at the edge.
  */
object Learning {

  val defs: Seq[QueryDef] = Seq(

    // ---- factorized learning over a join (the LMFAO/AC-DC move):
    //      regression sufficient statistics for y = order price vs
    //      x = customer account balance over orders ⋈ customer,
    //      computed WITHOUT materializing the join — the fact side
    //      reduces to per-customer partials (n_c, Σy, Σy²) first, the
    //      dim side joins AFTER, and every cross moment distributes
    //      through the 1:N join algebra: Σxy = Σ_c x_c·Σy_c,
    //      Σx² = Σ_c n_c·x_c². At 100 TB the join input is |customers|
    //      rows instead of |orders| — the shuffle the factorization
    //      deletes is exactly the one a naive join-then-aggregate
    //      plan pays. All moments are exact integers in DECIMAL(38,0)
    //      (cents² terms reach ~4e15 per row; 64-bit sums would
    //      overflow near 10⁴ rows). The oracle computes the SAME
    //      statistics from the explicitly materialized join, so the
    //      hash match IS the factorization-correctness proof.
    QueryDef.checked(
      "q_factorized_regression",
      """WITH j AS (
        |  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c.c_acctbal * 100) AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS sy,
        |  CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS sxx,
        |  CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS sxy,
        |  CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS syy
        |FROM j""".stripMargin) { (spark, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val t = Tables(spark, dir)
      val y = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
      // fact side first: per-customer partials, one keyed aggregate
      val perCust = t.orders
        .select(col("o_custkey"), y.as("y"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_c"),
          sum(col("y").cast(dec)).as("sy_c"),
          sum((col("y") * col("y")).cast(dec)).as("syy_c"))
      val cust = t.customer.select(col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("x"))
      perCust
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .agg(
          sum(col("n_c")).cast("long").as("n"),
          // DECIMAL(38,0)→string at the edge: syy ≈ 1.25e19 exceeds
          // both int64 and the driver hash's 2^53-exact float domain;
          // the digit string is value-identical in Spark and DuckDB.
          sum((col("n_c") * col("x")).cast(dec)).cast(dec)
            .cast("string").as("sx"),
          sum(col("sy_c")).cast(dec).cast("string").as("sy"),
          sum((col("n_c") * col("x") * col("x")).cast(dec)).cast(dec)
            .cast("string").as("sxx"),
          sum((col("x").cast(dec) * col("sy_c")).cast(dec)).cast(dec)
            .cast("string").as("sxy"),
          sum(col("syy_c")).cast(dec).cast("string").as("syy"))
        .select("n", "sx", "sy", "sxx", "sxy", "syy")
    },

    // ---- Bradley-Terry skill fit (2 MM iterations) over event-type
    //      "matches": consecutive events of one user with different
    //      types form a comparison; larger value wins (tie → earlier
    //      type wins). The count matrix is 5×5; the MM update runs on
    //      it after one linear pass over the event log.
    QueryDef.checked(
      "q_bradley_terry",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER w AS prev_type,
        |    value, lag(value) OVER w AS prev_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), matches AS (
        |  SELECT CASE WHEN value > prev_value THEN event_type ELSE prev_type END AS winner,
        |         CASE WHEN value > prev_value THEN prev_type ELSE event_type END AS loser
        |  FROM seq WHERE prev_type IS NOT NULL AND prev_type <> event_type
        |), wl AS (
        |  SELECT winner, loser, count(*) AS n FROM matches GROUP BY winner, loser
        |), games AS (
        |  SELECT winner AS a, loser AS b, n, n AS wins_a FROM wl
        |  UNION ALL
        |  SELECT loser AS a, winner AS b, n, 0 AS wins_a FROM wl
        |), tot AS (
        |  SELECT a, CAST(sum(n) AS BIGINT) AS n_games,
        |    CAST(sum(wins_a) AS BIGINT) AS n_wins
        |  FROM games GROUP BY a
        |), p1 AS (  -- first MM step from p=1: p_i = 2*W_i/N_i (1e9 fixed point)
        |  SELECT a, n_games, n_wins,
        |    CAST(round(2000000000.0 * n_wins / n_games) AS BIGINT) AS p
        |  FROM tot
        |), d2 AS (  -- denominator of step 2: sum_j n_ij/(p_i+p_j), 1e9 scale
        |  SELECT g.a, CAST(sum(CAST(round(
        |      g.n * 1e18 / (pa.p + pb.p)) AS BIGINT)) AS BIGINT) AS den
        |  FROM (SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM games GROUP BY a, b) g
        |  JOIN p1 pa ON pa.a = g.a JOIN p1 pb ON pb.a = g.b
        |  GROUP BY g.a
        |)
        |SELECT t.a AS event_type, t.n_games, t.n_wins,
        |  round(CAST(round(t.n_wins * 1e18 / d.den) AS BIGINT) / 1e9, 6) AS skill
        |FROM tot t JOIN d2 d ON d.a = t.a
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val seq0 = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .filter(col("prev_type").isNotNull && col("prev_type") =!= col("event_type"))
      val wl = seq0
        .select(
          when(col("value") > col("prev_value"), col("event_type"))
            .otherwise(col("prev_type")).as("winner"),
          when(col("value") > col("prev_value"), col("prev_type"))
            .otherwise(col("event_type")).as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      val games = wl.select(col("winner").as("a"), col("loser").as("b"),
          col("n"), col("n").as("wins_a"))
        .unionAll(wl.select(col("loser").as("a"), col("winner").as("b"),
          col("n"), lit(0L).as("wins_a")))
      val tot = games.groupBy("a")
        .agg(sum(col("n")).cast("long").as("n_games"),
          sum(col("wins_a")).cast("long").as("n_wins"))
      val p1 = tot.withColumn("p",
        round(lit(2000000000.0) * col("n_wins") / col("n_games")).cast("long"))
      val pairN = games.groupBy("a", "b").agg(sum(col("n")).cast("long").as("n"))
      // model-sized relations from here down — broadcast both sides of
      // the 5×5 join; the corpus never reappears
      val d2 = pairN
        .join(broadcast(p1.select(col("a"), col("p").as("pa"))), Seq("a"))
        .join(broadcast(p1.select(col("a").as("b"), col("p").as("pb"))), Seq("b"))
        .select(col("a"),
          round(col("n") * lit(1e18) / (col("pa") + col("pb"))).cast("long").as("term"))
        .groupBy("a").agg(sum(col("term")).cast("long").as("den"))
      tot.join(d2, Seq("a"))
        .select(col("a").as("event_type"), col("n_games"), col("n_wins"),
          round(round(col("n_wins") * lit(1e18) / col("den")).cast("long") / lit(1e9), 6)
            .as("skill"))
        .orderBy("event_type")
    },

    // ---- rank-1 ALS user half-step: item factors fixed (a data
    //      relation, as a deployed model would be), solve each user's
    //      scalar least squares u = Σrv / Σv² in closed form. One
    //      groupBy(user) over the event log; factors broadcast.
    QueryDef.checked(
      "q_als_step",
      """WITH v AS (
        |  SELECT * FROM (VALUES ('click', 200000), ('view', 100000),
        |    ('signup', 500000), ('purchase', 900000), ('error', 50000))
        |    AS t(event_type, vf)  -- item factor, 1e6 fixed point
        |), terms AS (
        |  SELECT e.user_id,
        |    CAST(round(e.value * v.vf) AS BIGINT) AS num_t,  -- r*v (1e6 scale)
        |    CAST(v.vf AS BIGINT) * v.vf AS den_t             -- v*v (1e12 scale)
        |  FROM events e JOIN v USING (event_type)
        |)
        |SELECT user_id, count(*) AS n_obs,
        |  round(CAST(round(sum(num_t) * 1e12 / sum(den_t)) AS BIGINT) / 1e6, 6)
        |    AS u_factor
        |FROM terms GROUP BY user_id
        |ORDER BY u_factor DESC, user_id
        |LIMIT 100""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val v = Seq(("click", 200000L), ("view", 100000L), ("signup", 500000L),
        ("purchase", 900000L), ("error", 50000L)).toDF("event_type", "vf")
      Tables(spark, dir).events
        .join(broadcast(v), Seq("event_type"))
        .select(col("user_id"),
          round(col("value") * col("vf")).cast("long").as("num_t"),
          (col("vf") * col("vf")).as("den_t"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_obs"),
          round(round(sum(col("num_t")) * lit(1e12) / sum(col("den_t")))
            .cast("long") / lit(1e6), 6).as("u_factor"))
        .orderBy(col("u_factor").desc, col("user_id"))
        .limit(100)
    },

    // ---- top principal direction of the embedding corpus: Gram matrix
    //      via inline outer-product expansion (one generator pass, no
    //      self-join), then two power iterations on the 64×64 relation,
    //      normalized by the max-|component| (no sqrt needed).
    QueryDef.checked(
      "q_pca_power",
      """WITH idx AS (
        |  SELECT unnest(range(64)) AS k
        |), g AS (  -- Gram matrix, per-term 1e9 fixed point
        |  SELECT a.k AS i, b.k AS j,
        |    CAST(sum(CAST(round(
        |      CAST(e.embedding[a.k + 1] AS DOUBLE)
        |      * CAST(e.embedding[b.k + 1] AS DOUBLE) * 1e9) AS BIGINT))
        |      AS BIGINT) AS gij
        |  FROM embeddings e, idx a, idx b
        |  GROUP BY a.k, b.k
        |), v1 AS (  -- G · 1  (sum rows), stays integer
        |  SELECT i, CAST(sum(gij) AS BIGINT) AS v FROM g GROUP BY i
        |), v1n AS (  -- normalize to 1e6 fixed point by max |v|
        |  SELECT i, CAST(round(v * 1e6 / (SELECT max(abs(v)) FROM v1)) AS BIGINT) AS v
        |  FROM v1
        |), v2 AS (  -- G · v1
        |  SELECT g.j AS i,
        |    CAST(sum(CAST(round(g.gij / 1e9 * v.v) AS BIGINT)) AS BIGINT) AS v
        |  FROM g JOIN v1n v ON v.i = g.i
        |  GROUP BY g.j
        |)
        |SELECT i AS dim,
        |  round(CAST(round(v * 1e6 / (SELECT max(abs(v)) FROM v2)) AS BIGINT) / 1e6, 6)
        |    AS component
        |FROM v2 ORDER BY dim""".stripMargin) { (spark, dir) =>
      // inline outer product: each row becomes its 64×64 fixed-point
      // terms with NO join — two chained codegen'd generators + one
      // 4096-key shuffle. Chained posexplodes, not a nested
      // transform-lambda building an array of structs: higher-order
      // lambdas run interpreted, and allocating 4096 structs per row
      // measured 8.5 s at sf0.1 vs ~1 s for the generator pipeline.
      // spread first: the embeddings table arrives as ONE file split,
      // which would otherwise pin the whole expansion to a single task.
      val terms = Tables.spread(Tables(spark, dir).embeddings)
        .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i"), col("x"), posexplode(col("embedding")).as(Seq("j", "y")))
        .select(col("i"), col("j"),
          round(col("x").cast("double") * col("y").cast("double") * lit(1e9))
            .cast("long").as("t"))
      val g = terms.groupBy("i", "j").agg(sum(col("t")).cast("long").as("gij"))
        .transform(localCheckpoint) // 4096 rows; feeds both iterations
      val v1 = g.groupBy("i").agg(sum(col("gij")).cast("long").as("v"))
      val v1max = v1.agg(max(abs(col("v"))).as("m"))
      val v1n = v1.crossJoin(broadcast(v1max))
        .select(col("i"), round(col("v") * lit(1e6) / col("m")).cast("long").as("v"))
      val v2 = g.join(broadcast(v1n), Seq("i"))
        .select(col("j").as("i"),
          round(col("gij") / lit(1e9) * col("v")).cast("long").as("t"))
        .groupBy("i").agg(sum(col("t")).cast("long").as("v"))
      val v2max = v2.agg(max(abs(col("v"))).as("m"))
      v2.crossJoin(broadcast(v2max))
        .select((col("i")).as("dim"),
          round(round(col("v") * lit(1e6) / col("m")).cast("long") / lit(1e6), 6)
            .as("component"))
        .orderBy("dim")
    },

    // ---- one label-propagation round: each supplier adopts the
    //      majority nation among its customers, weighted by distinct
    //      orders traded (ties → smallest nation key). The supervised
    //      seed labels are the customers' own nations.
    QueryDef.checked(
      "q_label_prop",
      """WITH votes AS (
        |  SELECT l_suppkey AS s, c.c_nationkey AS nat,
        |    count(DISTINCT o.o_orderkey) AS w
        |  FROM lineitem
        |  JOIN orders o ON l_orderkey = o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY l_suppkey, c.c_nationkey
        |), ranked AS (
        |  SELECT s, nat, w,
        |    row_number() OVER (PARTITION BY s ORDER BY w DESC, nat) AS rn
        |  FROM votes
        |)
        |SELECT s AS s_suppkey, nat AS adopted_nation, CAST(w AS BIGINT) AS votes
        |FROM ranked WHERE rn = 1
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val votes = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_suppkey").as("s"), col("c_nationkey").as("nat"))
        .agg(countDistinct(col("o_orderkey")).as("w"))
      votes
        .withColumn("rn", row_number().over(
          Window.partitionBy("s").orderBy(col("w").desc, col("nat"))))
        .filter(col("rn") === 1)
        .select(col("s").as("s_suppkey"), col("nat").as("adopted_nation"),
          col("w").cast("long").as("votes"))
        .orderBy("s_suppkey")
    },

    // ---- Wilson lower-bound ranking (z=1.96): the confidence-adjusted
    //      "conversion rate" per event type, the classic fix for naive
    //      rate ranking on unequal sample sizes. One aggregate pass;
    //      the sqrt is IEEE-exact in both engines, rounded at the edge.
    QueryDef.checked(
      "q_ctr_wilson",
      """WITH agg AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type, n, pos,
        |  round(pos * 1.0 / n, 6) AS naive_rate,
        |  round((pos * 1.0 / n + 1.9208 / n
        |      - 1.96 * sqrt((pos * 1.0 / n) * (1.0 - pos * 1.0 / n) / n
        |                    + 0.9604 / (n * n * 1.0)))
        |    / (1.0 + 3.8416 / n), 6) AS wilson_lb
        |FROM agg
        |ORDER BY wilson_lb DESC, event_type""".stripMargin) { (spark, dir) =>
      val agg = Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 50, 1L).otherwise(0L)).cast("long").as("pos"))
      val p = col("pos") * lit(1.0) / col("n")
      agg.select(col("event_type"), col("n"), col("pos"),
          round(p, 6).as("naive_rate"),
          round((p + lit(1.9208) / col("n")
              - lit(1.96) * sqrt(p * (lit(1.0) - p) / col("n")
                + lit(0.9604) / (col("n") * col("n") * lit(1.0))))
            / (lit(1.0) + lit(3.8416) / col("n")), 6).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("event_type"))
    },

    // ---- ridge regression, closed form (2 features + intercept, per
    //      return-flag group): y = price cents on (quantity, discount
    //      permille). The centered 2×2 normal equations solve by
    //      Cramer's rule with λ = 1000 on the diagonal — every Gram
    //      entry is an integer-cents power sum, and the double algebra
    //      after it is the same expression tree on both engines, so the
    //      coefficients hash-match. One scan, |groups| rows; this is
    //      the whole-dataset single-pass GLM the feature-store serving
    //      path wants (vs iterative SGD needing epochs).
    QueryDef.checked(
      "q_ridge_2f",
      """WITH m AS (
        |  SELECT l_returnflag AS flag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx1,
        |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS DOUBLE)
        |      AS sx2,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx1x1,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(round(l_discount * 1000) AS BIGINT)) AS DOUBLE)
        |      AS sx1x2,
        |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
        |      * CAST(round(l_discount * 1000) AS BIGINT)) AS DOUBLE)
        |      AS sx2x2,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |      AS sx1y,
        |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
        |      * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |      AS sx2y
        |  FROM lineitem GROUP BY l_returnflag
        |), g AS (
        |  SELECT flag, n,
        |    sx1x1 - sx1 * sx1 / n + 1000 AS a11,
        |    sx1x2 - sx1 * sx2 / n AS a12,
        |    sx2x2 - sx2 * sx2 / n + 1000 AS a22,
        |    sx1y - sx1 * sy / n AS b1,
        |    sx2y - sx2 * sy / n AS b2,
        |    sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
        |  FROM m
        |)
        |SELECT flag, CAST(n AS BIGINT) AS n_rows,
        |  round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6)
        |    AS beta_qty,
        |  round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6)
        |    AS beta_disc,
        |  round(my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * mx1
        |    - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * mx2, 6)
        |    AS intercept_cents
        |FROM g
        |ORDER BY flag""".stripMargin) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("x1"),
          expr("CAST(round(l_discount * 1000) AS BIGINT)").as("x2"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      val m = li.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).cast("double").as("sx1"),
          sum(col("x2")).cast("double").as("sx2"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x1") * col("x1")).cast("double").as("sx1x1"),
          sum(col("x1") * col("x2")).cast("double").as("sx1x2"),
          sum(col("x2") * col("x2")).cast("double").as("sx2x2"),
          sum(col("x1") * col("y")).cast("double").as("sx1y"),
          sum(col("x2") * col("y")).cast("double").as("sx2y"))
      val g = m.select(col("flag"), col("n"),
        (col("sx1x1") - col("sx1") * col("sx1") / col("n") + 1000).as("a11"),
        (col("sx1x2") - col("sx1") * col("sx2") / col("n")).as("a12"),
        (col("sx2x2") - col("sx2") * col("sx2") / col("n") + 1000).as("a22"),
        (col("sx1y") - col("sx1") * col("sy") / col("n")).as("b1"),
        (col("sx2y") - col("sx2") * col("sy") / col("n")).as("b2"),
        (col("sx1") / col("n")).as("mx1"),
        (col("sx2") / col("n")).as("mx2"),
        (col("sy") / col("n")).as("my"))
      val det = col("a11") * col("a22") - col("a12") * col("a12")
      val beta1 = (col("b1") * col("a22") - col("b2") * col("a12")) / det
      val beta2 = (col("b2") * col("a11") - col("b1") * col("a12")) / det
      g.select(col("flag"), col("n").cast("long").as("n_rows"),
          round(beta1, 6).as("beta_qty"),
          round(beta2, 6).as("beta_disc"),
          round(col("my") - beta1 * col("mx1") - beta2 * col("mx2"), 6)
            .as("intercept_cents"))
        .orderBy("flag")
    },

    // ---- decision stump (one round of histogram-based tree learning,
    //      the LightGBM/XGBoost-approx shape): bin the feature into
    //      fixed-width histogram buckets, accumulate per-bin (n, n_pos)
    //      — ONE aggregate over the fact table, mergeable — then score
    //      every bin boundary by exact-rational Gini gain
    //      (gini = 2p(n-p)/n², so the gain is products/quotients of
    //      integer counts; both engines evaluate the identical
    //      expression tree, making the argmax deterministic) over the
    //      bounded histogram. This is exactly how distributed GBDT
    //      finds splits at 100 TB: candidate thresholds come from the
    //      histogram, never from a global sort.
    QueryDef.checked(
      "q_decision_stump",
      """WITH b AS (
        |  SELECT CAST(floor(o_totalprice / 25000) AS INT) AS bin,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders
        |), h AS (
        |  SELECT bin, count(*) AS n, sum(y) AS npos FROM b GROUP BY bin
        |), c AS (
        |  SELECT bin,
        |    sum(n) OVER (ORDER BY bin) AS nl,
        |    sum(npos) OVER (ORDER BY bin) AS pl,
        |    sum(n) OVER () AS nt, sum(npos) OVER () AS pt
        |  FROM h
        |), gains AS (
        |  SELECT bin, nl, pl, nt - nl AS nr, pt - pl AS prr,
        |    2.0 * pt * (nt - pt) / nt / nt
        |      - 2.0 * pl * (nl - pl) / nt / nl
        |      - 2.0 * (pt - pl) * ((nt - nl) - (pt - pl)) / nt / (nt - nl)
        |      AS gain
        |  FROM c WHERE nl > 0 AND nl < nt
        |)
        |SELECT CAST((bin + 1) * 2500000 AS BIGINT) AS threshold_cents,
        |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
        |  round(gain, 6) AS gini_gain,
        |  round(CAST(pl AS DOUBLE) / nl, 6) AS pos_rate_left,
        |  round(CAST(prr AS DOUBLE) / nr, 6) AS pos_rate_right
        |FROM gains ORDER BY gain DESC, bin LIMIT 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Tables(spark, dir).orders
        .select(expr("CAST(floor(o_totalprice / 25000) AS INT)").as("bin"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      // the windows below run over the BOUNDED histogram: measured 20
      // rows @ sf0.01 AND sf0.1 (PlanProbe r7)
      val wCum = Window.orderBy("bin")
      val wAll = Window.partitionBy()
      val c = h
        .withColumn("nl", sum(col("n")).over(wCum))
        .withColumn("pl", sum(col("npos")).over(wCum))
        .withColumn("nt", sum(col("n")).over(wAll))
        .withColumn("pt", sum(col("npos")).over(wAll))
        .filter(col("nl") > 0 && col("nl") < col("nt"))
      val gain = lit(2.0) * col("pt") * (col("nt") - col("pt")) / col("nt") / col("nt") -
        lit(2.0) * col("pl") * (col("nl") - col("pl")) / col("nt") / col("nl") -
        lit(2.0) * (col("pt") - col("pl")) *
          ((col("nt") - col("nl")) - (col("pt") - col("pl"))) /
          col("nt") / (col("nt") - col("nl"))
      c.withColumn("gain", gain)
        .orderBy(col("gain").desc, col("bin"))
        .limit(1)
        .select(((col("bin") + 1) * 2500000L).cast("long").as("threshold_cents"),
          col("nl").cast("long").as("n_left"),
          (col("nt") - col("nl")).cast("long").as("n_right"),
          round(col("gain"), 6).as("gini_gain"),
          round(col("pl").cast("double") / col("nl"), 6).as("pos_rate_left"),
          round((col("pt") - col("pl")).cast("double")
            / (col("nt") - col("nl")), 6).as("pos_rate_right"))
    },

    // ---- one perceptron epoch (batch update): integer features
    //      (dollars, order-year offset), fixed starting weights, and the
    //      summed misclassified-example update Δw = Σ y·x — everything
    //      is BIGINT so the new weights are exact on any partitioning.
    //      One scan, one mergeable aggregate; iterating = re-running
    //      with the 1-row weight relation swapped (the q_kmeans_iter /
    //      q_als_step loop discipline).
    QueryDef.checked(
      "q_perceptron_step",
      """WITH x AS (
        |  SELECT CAST(round(o_totalprice) AS BIGINT) AS x1,
        |    CAST(year(o_orderdate) - 1992 AS BIGINT) AS x2,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y
        |  FROM orders
        |), p AS (
        |  SELECT x1, x2, y,
        |    CASE WHEN -300000 + 2 * x1 + 10000 * x2 >= 0
        |         THEN 1 ELSE -1 END AS yhat
        |  FROM x
        |), u AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN y != yhat THEN 1 ELSE 0 END) AS n_mis,
        |    sum(CASE WHEN y != yhat THEN y ELSE 0 END) AS db,
        |    sum(CASE WHEN y != yhat THEN y * x1 ELSE 0 END) AS dw1,
        |    sum(CASE WHEN y != yhat THEN y * x2 ELSE 0 END) AS dw2
        |  FROM p
        |)
        |SELECT CAST(-300000 + db AS BIGINT) AS w0_new,
        |  CAST(2 + dw1 AS BIGINT) AS w1_new,
        |  CAST(10000 + dw2 AS BIGINT) AS w2_new,
        |  CAST(n_mis AS BIGINT) AS n_misclassified,
        |  round(CAST(n_mis AS DOUBLE) / n, 6) AS error_rate
        |FROM u""".stripMargin) { (spark, dir) =>
      val p = Tables(spark, dir).orders
        .select(expr("CAST(round(o_totalprice) AS BIGINT)").as("x1"),
          expr("CAST(year(o_orderdate) - 1992 AS BIGINT)").as("x2"),
          when(col("o_orderstatus") === "F", 1).otherwise(-1).as("y"))
        .withColumn("yhat",
          when(lit(-300000L) + lit(2L) * col("x1") + lit(10000L) * col("x2") >= 0, 1)
            .otherwise(-1))
      val mis = col("y") =!= col("yhat")
      p.agg(count(lit(1)).as("n"),
          sum(when(mis, 1L).otherwise(0L)).as("n_mis"),
          sum(when(mis, col("y")).otherwise(0L)).as("db"),
          sum(when(mis, col("y") * col("x1")).otherwise(0L)).as("dw1"),
          sum(when(mis, col("y") * col("x2")).otherwise(0L)).as("dw2"))
        .select((lit(-300000L) + col("db")).cast("long").as("w0_new"),
          (lit(2L) + col("dw1")).cast("long").as("w1_new"),
          (lit(10000L) + col("dw2")).cast("long").as("w2_new"),
          col("n_mis").cast("long").as("n_misclassified"),
          round(col("n_mis").cast("double") / col("n"), 6).as("error_rate"))
    },

    // ---- mRMR feature selection (max-relevance min-redundancy): rank
    //      candidate features by MI(feature; label) against their
    //      average pairwise MI with the other candidates, plus the
    //      round-2 score (relevance − MI with the first pick) a greedy
    //      selector would use next. All MI terms come from contingency
    //      counts: the fact table is unpivoted to a long (feature,
    //      value, label) relation — ONE shuffle keyed by (feat, v, y) —
    //      and every joint/marginal after that is bounded by the bin
    //      vocabularies, so at 100 TB the cost is 1 + |pairs| keyed
    //      aggregates of the same scan, never a per-feature pass.
    QueryDef.checked(
      "q_feature_mrmr",
      """WITH w AS (
        |  SELECT CAST(floor(o_totalprice / 50000) AS INT) AS f_price,
        |    year(o_orderdate) AS f_year,
        |    o_orderpriority AS f_prio,
        |    c_mktsegment AS f_seg,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |), fv AS (
        |  SELECT 'price' AS feat, CAST(f_price AS VARCHAR) AS v, y FROM w
        |  UNION ALL SELECT 'year', CAST(f_year AS VARCHAR), y FROM w
        |  UNION ALL SELECT 'prio', f_prio, y FROM w
        |  UNION ALL SELECT 'seg', f_seg, y FROM w
        |), njl AS (
        |  SELECT feat, v, y, count(*) AS n FROM fv GROUP BY 1, 2, 3
        |), nf AS (
        |  SELECT feat, v, sum(n) AS nv FROM njl GROUP BY 1, 2
        |), ny AS (
        |  SELECT feat, y, sum(n) AS nyc FROM njl GROUP BY 1, 2
        |), nt AS (
        |  SELECT feat, sum(n) AS ntc FROM njl GROUP BY 1
        |), rel AS (
        |  SELECT j.feat,
        |    sum(CAST(j.n AS DOUBLE) / t.ntc
        |      * ln((CAST(j.n AS DOUBLE) * t.ntc)
        |          / (CAST(f.nv AS DOUBLE) * y.nyc))) AS mi_y
        |  FROM njl j
        |  JOIN nf f ON f.feat = j.feat AND f.v = j.v
        |  JOIN ny y ON y.feat = j.feat AND y.y = j.y
        |  JOIN nt t ON t.feat = j.feat
        |  GROUP BY j.feat
        |), pj AS (
        |  SELECT 'price' AS fa, 'year' AS fb,
        |    CAST(f_price AS VARCHAR) AS a, CAST(f_year AS VARCHAR) AS b FROM w
        |  UNION ALL SELECT 'price', 'prio', CAST(f_price AS VARCHAR), f_prio FROM w
        |  UNION ALL SELECT 'price', 'seg', CAST(f_price AS VARCHAR), f_seg FROM w
        |  UNION ALL SELECT 'year', 'prio', CAST(f_year AS VARCHAR), f_prio FROM w
        |  UNION ALL SELECT 'year', 'seg', CAST(f_year AS VARCHAR), f_seg FROM w
        |  UNION ALL SELECT 'prio', 'seg', f_prio, f_seg FROM w
        |), pn AS (
        |  SELECT fa, fb, a, b, count(*) AS n FROM pj GROUP BY 1, 2, 3, 4
        |), pa AS (SELECT fa, fb, a, sum(n) AS na FROM pn GROUP BY 1, 2, 3),
        |pb AS (SELECT fa, fb, b, sum(n) AS nb FROM pn GROUP BY 1, 2, 3),
        |pt AS (SELECT fa, fb, sum(n) AS ntc FROM pn GROUP BY 1, 2),
        |mif AS (
        |  SELECT p.fa, p.fb,
        |    sum(CAST(p.n AS DOUBLE) / t.ntc
        |      * ln((CAST(p.n AS DOUBLE) * t.ntc)
        |          / (CAST(a.na AS DOUBLE) * b.nb))) AS mi
        |  FROM pn p
        |  JOIN pa a ON a.fa = p.fa AND a.fb = p.fb AND a.a = p.a
        |  JOIN pb b ON b.fa = p.fa AND b.fb = p.fb AND b.b = p.b
        |  JOIN pt t ON t.fa = p.fa AND t.fb = p.fb
        |  GROUP BY p.fa, p.fb
        |), mis AS (
        |  SELECT fa, fb, mi FROM mif UNION ALL SELECT fb, fa, mi FROM mif
        |), red AS (
        |  SELECT fa AS feat, sum(mi) / count(*) AS avg_red FROM mis GROUP BY fa
        |), top1 AS (
        |  SELECT feat FROM rel ORDER BY mi_y DESC, feat LIMIT 1
        |)
        |SELECT r.feat, round(r.mi_y, 6) AS relevance,
        |  round(d.avg_red, 6) AS avg_redundancy,
        |  round(r.mi_y - d.avg_red, 6) AS mrmr_score,
        |  r.feat = max(t1.feat) OVER () AS selected_first,
        |  CASE WHEN r.feat = max(t1.feat) OVER () THEN NULL
        |    ELSE round(r.mi_y - m.mi, 6) END AS round2_score
        |FROM rel r
        |JOIN red d ON d.feat = r.feat
        |CROSS JOIN top1 t1
        |LEFT JOIN mis m ON m.fa = r.feat AND m.fb = t1.feat
        |ORDER BY r.feat""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = t.orders.join(t.customer, col("c_custkey") === col("o_custkey"))
        .select(expr("CAST(floor(o_totalprice / 50000) AS INT)").as("f_price"),
          year(col("o_orderdate")).as("f_year"),
          col("o_orderpriority").as("f_prio"),
          col("c_mktsegment").as("f_seg"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"))
        .transform(localCheckpoint) // the label unpivot AND six pair unpivots
      def lf(feat: String, c: org.apache.spark.sql.Column) =
        w.select(lit(feat).as("feat"), c.cast("string").as("v"), col("y"))
      val fv = lf("price", col("f_price"))
        .unionAll(lf("year", col("f_year")))
        .unionAll(lf("prio", col("f_prio")))
        .unionAll(lf("seg", col("f_seg")))
      val njl = fv.groupBy("feat", "v", "y").agg(count(lit(1)).as("n"))
        .transform(localCheckpoint) // marginals and the MI sum re-read it
      val nf = njl.groupBy("feat", "v").agg(sum(col("n")).as("nv"))
      val ny = njl.groupBy("feat", "y").agg(sum(col("n")).as("nyc"))
      val nt = njl.groupBy("feat").agg(sum(col("n")).as("ntc"))
      val rel = njl
        .join(nf, Seq("feat", "v")).join(ny, Seq("feat", "y"))
        .join(broadcast(nt), Seq("feat"))
        .groupBy("feat")
        .agg(sum(col("n").cast("double") / col("ntc")
          * log((col("n").cast("double") * col("ntc"))
            / (col("nv").cast("double") * col("nyc")))).as("mi_y"))
      def pf(fa: String, fb: String, a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        w.select(lit(fa).as("fa"), lit(fb).as("fb"),
          a.cast("string").as("a"), b.cast("string").as("b"))
      val pj = pf("price", "year", col("f_price"), col("f_year"))
        .unionAll(pf("price", "prio", col("f_price"), col("f_prio")))
        .unionAll(pf("price", "seg", col("f_price"), col("f_seg")))
        .unionAll(pf("year", "prio", col("f_year"), col("f_prio")))
        .unionAll(pf("year", "seg", col("f_year"), col("f_seg")))
        .unionAll(pf("prio", "seg", col("f_prio"), col("f_seg")))
      val pn = pj.groupBy("fa", "fb", "a", "b").agg(count(lit(1)).as("n"))
        .transform(localCheckpoint) // three marginals + the pair-MI sum
      val pa = pn.groupBy("fa", "fb", "a").agg(sum(col("n")).as("na"))
      val pb = pn.groupBy("fa", "fb", "b").agg(sum(col("n")).as("nb"))
      val pt = pn.groupBy("fa", "fb").agg(sum(col("n")).as("ntc"))
      val mif = pn
        .join(pa, Seq("fa", "fb", "a")).join(pb, Seq("fa", "fb", "b"))
        .join(broadcast(pt), Seq("fa", "fb"))
        .groupBy("fa", "fb")
        .agg(sum(col("n").cast("double") / col("ntc")
          * log((col("n").cast("double") * col("ntc"))
            / (col("na").cast("double") * col("nb")))).as("mi"))
      val mis = mif.select(col("fa"), col("fb"), col("mi"))
        .unionAll(mif.select(col("fb").as("fa"), col("fa").as("fb"), col("mi")))
        .transform(localCheckpoint) // redundancy average AND the top1 lookup join
      val red = mis.groupBy(col("fa").as("feat"))
        .agg((sum(col("mi")) / count(lit(1))).as("avg_red"))
      val top1 = rel.orderBy(col("mi_y").desc, col("feat")).limit(1)
        .select(col("feat").as("t1"))
      rel.join(red, Seq("feat"))
        .crossJoin(broadcast(top1))
        .join(mis.select(col("fa").as("feat"), col("fb").as("t1"),
          col("mi").as("mi_t1")), Seq("feat", "t1"), "left")
        // |features| rows: measured 4 @ sf0.01 AND sf0.1 (PlanProbe r7)
        .withColumn("sel", col("feat") === max(col("t1"))
          .over(Window.partitionBy()))
        .select(col("feat"), round(col("mi_y"), 6).as("relevance"),
          round(col("avg_red"), 6).as("avg_redundancy"),
          round(col("mi_y") - col("avg_red"), 6).as("mrmr_score"),
          col("sel").as("selected_first"),
          when(col("sel"), lit(null).cast("double"))
            .otherwise(round(col("mi_y") - col("mi_t1"), 6)).as("round2_score"))
        .orderBy("feat")
    },

    // ---- 2-component Gaussian mixture, one EM step: responsibilities
    //      from fixed initial params (w=.5/.5, μ=20/80, σ²=100/400) in
    //      the E-step — a stateless per-row expression in the scan —
    //      then the weighted-moment M-step as ONE mergeable aggregate.
    //      Density modeling over a metric (here: event value) is how a
    //      pipeline separates organic vs whale behavior without labels;
    //      iterating swaps the 1-row parameter relation (q_kmeans_iter
    //      loop discipline). Both engines evaluate the byte-identical
    //      responsibility expression, so the only cross-engine slack is
    //      sub-ulp exp() drift washed out by the 1e-6 output rounding.
    QueryDef.checked(
      "q_gaussian_mixture_em",
      """WITH resp AS (
        |  SELECT value AS v,
        |    (0.5 * exp(-(value - 20.0) * (value - 20.0) / (2.0 * 100.0))
        |       / sqrt(100.0))
        |    / ((0.5 * exp(-(value - 20.0) * (value - 20.0) / (2.0 * 100.0))
        |         / sqrt(100.0))
        |     + (0.5 * exp(-(value - 80.0) * (value - 80.0) / (2.0 * 400.0))
        |         / sqrt(400.0))) AS r1
        |  FROM events
        |), m AS (
        |  SELECT count(*) AS n, CAST(sum(CAST(r1 AS DECIMAL(38,14))) AS DOUBLE) AS n1,
        |    CAST(sum(CAST(1 - r1 AS DECIMAL(38,14))) AS DOUBLE) AS n2,
        |    CAST(sum(CAST(r1 * v AS DECIMAL(38,14))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST((1 - r1) * v AS DECIMAL(38,14))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(r1 * v * v AS DECIMAL(38,14))) AS DOUBLE) AS q1,
        |    CAST(sum(CAST((1 - r1) * v * v AS DECIMAL(38,14))) AS DOUBLE) AS q2
        |  FROM resp
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(n1 / n, 6) AS weight_1,
        |  round(s1 / n1, 6) AS mean_1, round(s2 / n2, 6) AS mean_2,
        |  round(q1 / n1 - (s1 / n1) * (s1 / n1), 6) AS var_1,
        |  round(q2 / n2 - (s2 / n2) * (s2 / n2), 6) AS var_2
        |FROM m""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).events
        .select(col("value").as("v"), expr(
          """(0.5 * exp(-(value - 20.0) * (value - 20.0) / (2.0 * 100.0))
            |   / sqrt(100.0))
            |/ ((0.5 * exp(-(value - 20.0) * (value - 20.0) / (2.0 * 100.0))
            |     / sqrt(100.0))
            | + (0.5 * exp(-(value - 80.0) * (value - 80.0) / (2.0 * 400.0))
            |     / sqrt(400.0)))""".stripMargin).as("r1"))
        .agg(count(lit(1)).as("n"), sum((col("r1")).cast("decimal(38,14)")).cast("double").as("n1"),
          sum((lit(1) - col("r1")).cast("decimal(38,14)")).cast("double").as("n2"),
          sum((col("r1") * col("v")).cast("decimal(38,14)")).cast("double").as("s1"),
          sum(((lit(1) - col("r1")) * col("v")).cast("decimal(38,14)")).cast("double").as("s2"),
          sum((col("r1") * col("v") * col("v")).cast("decimal(38,14)")).cast("double").as("q1"),
          sum(((lit(1) - col("r1")) * col("v") * col("v")).cast("decimal(38,14)")).cast("double").as("q2"))
        .select(col("n").cast("long").as("n"),
          round(col("n1") / col("n"), 6).as("weight_1"),
          round(col("s1") / col("n1"), 6).as("mean_1"),
          round(col("s2") / col("n2"), 6).as("mean_2"),
          round(col("q1") / col("n1")
            - (col("s1") / col("n1")) * (col("s1") / col("n1")), 6).as("var_1"),
          round(col("q2") / col("n2")
            - (col("s2") / col("n2")) * (col("s2") / col("n2")), 6).as("var_2"))
    },

    // ---- HMM forward log-likelihood: a 2-state hidden Markov model
    //      (fixed π/A/B) scored over each user's first 10 events
    //      (purchase/signup = the "engaged" observation). The Spark
    //      side folds the per-user OBSERVATION ARRAY with the
    //      `aggregate` higher-order function — the α-recursion runs
    //      inside codegen per row, state never leaves the executor —
    //      while the oracle unrolls the identical recurrence as a
    //      recursive CTE; both apply the same transition-then-emit
    //      arithmetic in the same order, so the likelihoods agree to
    //      the last ulp. Scale: one (user)-keyed sort-collect of a
    //      CAPPED sequence (10 obs), then per-row arithmetic — the
    //      standard shape for cheap sequence scoring at 100 TB.
    QueryDef.checked(
      "q_hmm_forward",
      """WITH RECURSIVE obs AS (
        |  SELECT * FROM (
        |    SELECT user_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS t,
        |      CASE WHEN event_type IN ('purchase', 'signup')
        |           THEN 1 ELSE 0 END AS o
        |    FROM events) z
        |  WHERE t <= 10
        |), nmax AS (
        |  SELECT user_id, max(t) AS tmax FROM obs GROUP BY user_id
        |), fwd AS (
        |  SELECT user_id, 0 AS t, CAST(0.5 AS DOUBLE) AS a0,
        |    CAST(0.5 AS DOUBLE) AS a1
        |  FROM nmax
        |  UNION ALL
        |  SELECT f.user_id, f.t + 1,
        |    (CASE WHEN o.o = 1 THEN 0.1 ELSE 0.9 END)
        |      * (f.a0 * 0.8 + f.a1 * 0.3),
        |    (CASE WHEN o.o = 1 THEN 0.6 ELSE 0.4 END)
        |      * (f.a0 * 0.2 + f.a1 * 0.7)
        |  FROM fwd f JOIN obs o ON o.user_id = f.user_id AND o.t = f.t + 1
        |)
        |SELECT f.user_id, CAST(n.tmax AS INT) AS n_obs,
        |  round(ln(f.a0 + f.a1), 6) AS log_likelihood
        |FROM fwd f JOIN nmax n ON n.user_id = f.user_id AND f.t = n.tmax
        |ORDER BY f.user_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(spark, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type").isin("purchase", "signup"), 1)
            .otherwise(0).as("o"))
        .withColumn("t", row_number().over(w))
        .filter(col("t") <= 10)
        .groupBy("user_id")
        .agg(count(lit(1)).cast("int").as("n_obs"),
          expr("transform(array_sort(collect_list(struct(t, o))), x -> x.o)")
            .as("os"))
        .select(col("user_id"), col("n_obs"), expr(
          """round(ln(aggregate(os,
            |  named_struct('a0', CAST(0.5 AS DOUBLE), 'a1', CAST(0.5 AS DOUBLE)),
            |  (acc, o) -> named_struct(
            |    'a0', (CASE WHEN o = 1 THEN 0.1 ELSE 0.9 END)
            |            * (acc.a0 * 0.8 + acc.a1 * 0.3),
            |    'a1', (CASE WHEN o = 1 THEN 0.6 ELSE 0.4 END)
            |            * (acc.a0 * 0.2 + acc.a1 * 0.7)),
            |  acc -> acc.a0 + acc.a1)), 6)""".stripMargin)
          .as("log_likelihood"))
        .orderBy("user_id")
    },

    // ---- logistic regression, one Newton step from the zero init: at
    //      β=0 every probability is ½, so the gradient is Σ(y−½)·[1,x]
    //      and the Hessian is ¼·Σ[1,x][1,x]ᵀ — both from ONE moments
    //      pass; the step itself is a 2×2 solve on the single aggregate
    //      row. A second broadcast pass scores the stepped model
    //      (log-loss and sign accuracy) so the step's effect is checked
    //      output. The GLM sibling of q_perceptron_step /
    //      q_temperature_scaling: same moments→closed-form→broadcast
    //      shape, nothing iterative touches the corpus.
    QueryDef.checked(
      "q_logreg_newton",
      """WITH s AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    value AS x
        |  FROM events
        |), m AS (
        |  SELECT count(*) AS n, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    sum(y - 0.5) AS g0,
        |    CAST(sum(CAST((y - 0.5) * x AS DECIMAL(38,12))) AS DOUBLE) AS g1
        |  FROM s
        |), beta AS (
        |  SELECT n,
        |    4 * (sxx * g0 - sx * g1) / (n * sxx - sx * sx) AS b0,
        |    4 * (n * g1 - sx * g0) / (n * sxx - sx * sx) AS b1
        |  FROM m
        |)
        |SELECT CAST(b.n AS BIGINT) AS n,
        |  round(b.b0, 6) AS b0, round(b.b1, 6) AS b1,
        |  round(ln(2), 6) AS loss_before,
        |  round(CAST(sum(CAST(ln(1 + exp(-(2 * s.y - 1) * (b.b0 + b.b1 * s.x))) AS DECIMAL(38,18))) AS DOUBLE)
        |      / count(*), 6)
        |    AS loss_after,
        |  round(avg(CASE WHEN (b.b0 + b.b1 * s.x > 0) = (s.y = 1)
        |    THEN 1.0 ELSE 0.0 END), 6) AS accuracy_after
        |FROM s, beta b
        |GROUP BY b.n, b.b0, b.b1""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).events
        .select(when(col("event_type") === "purchase", 1).otherwise(0).as("y"),
          col("value").as("x"))
        .transform(localCheckpoint) // moments pass AND the scoring pass
      val m = s.agg(count(lit(1)).as("n"), sum((col("x")).cast("decimal(38,12)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("sxx"),
        sum(col("y") - 0.5).as("g0"),
        sum(((col("y") - 0.5) * col("x")).cast("decimal(38,12)")).cast("double").as("g1"))
      val det = col("n") * col("sxx") - col("sx") * col("sx")
      val beta = m.select(col("n"),
        (lit(4) * (col("sxx") * col("g0") - col("sx") * col("g1")) / det)
          .as("b0"),
        (lit(4) * (col("n") * col("g1") - col("sx") * col("g0")) / det)
          .as("b1"))
      val z = col("b0") + col("b1") * col("x")
      s.crossJoin(broadcast(beta))
        .groupBy("n", "b0", "b1")
        .agg((sum((log(lit(1) + exp((lit(2) * col("y") - 1) * z * -1))).cast("decimal(38,18)")).cast("double")
          / count(lit(1))).as("loss_after"),
          avg(when((z > 0) === (col("y") === 1), 1.0).otherwise(0.0))
            .as("accuracy_after"))
        .select(col("n").cast("long").as("n"),
          round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
          round(log(lit(2)), 6).as("loss_before"),
          round(col("loss_after"), 6).as("loss_after"),
          round(col("accuracy_after"), 6).as("accuracy_after"))
    },

    // ---- gradient boosting, two depth-1 rounds as dataflow: F₀ = ȳ,
    //      then each round fits a stump to the residuals — but because
    //      the feature (l_quantity) is small-cardinality, the corpus
    //      contributes ONE grouped pass (per-quantity n, Σy, Σy² in
    //      BIGINT dollars) and both split searches + both refits run on
    //      the ≤50-row group relation: prefix sums give every
    //      candidate's gain, argmax is a window rank, and the residual
    //      group sums after a ν-scaled stump are EXACT closed forms
    //      (Σr stays 0; Σr² drops by ν(2−ν)·gain), so round 2 never
    //      rescans the data. The boosting analogue of
    //      q_decision_stump's single fit.
    QueryDef.checked(
      "q_boosting_stumps",
      """WITH s AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |), g AS (
        |  SELECT q, count(*) AS n, sum(y) AS s, sum(y * y) AS qq
        |  FROM s GROUP BY q
        |), tot AS (
        |  SELECT sum(n) AS nt, sum(s) AS st, sum(qq) AS qqt FROM g
        |), r1 AS (
        |  SELECT g.q, g.n, g.s - g.n * (CAST(t.st AS DOUBLE) / t.nt) AS rs,
        |    t.nt, t.st, t.qqt
        |  FROM g, tot t
        |), p1 AS (
        |  SELECT q, nt, qqt, st,
        |    sum(n) OVER (ORDER BY q) AS cn,
        |    sum(rs) OVER (ORDER BY q) AS crs
        |  FROM r1
        |), g1 AS (
        |  SELECT q, nt, qqt, st,
        |    crs * crs / cn + crs * crs / (nt - cn) AS gain,
        |    crs / cn AS m_lo, -crs / (nt - cn) AS m_hi, cn
        |  FROM p1 WHERE cn < nt
        |), b1 AS (
        |  SELECT * FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, q) AS rn FROM g1)
        |  WHERE rn = 1
        |), r2 AS (
        |  SELECT r1.q, r1.n,
        |    r1.rs - r1.n * 0.5 * (CASE WHEN r1.q <= b1.q
        |      THEN b1.m_lo ELSE b1.m_hi END) AS rs,
        |    r1.nt, b1.q AS t1, b1.m_lo AS m1_lo, b1.m_hi AS m1_hi,
        |    b1.gain AS gain1, r1.qqt, r1.st
        |  FROM r1, b1
        |), p2 AS (
        |  SELECT q, nt, t1, m1_lo, m1_hi, gain1, qqt, st,
        |    sum(n) OVER (ORDER BY q) AS cn,
        |    sum(rs) OVER (ORDER BY q) AS crs
        |  FROM r2
        |), g2 AS (
        |  SELECT q, nt, t1, m1_lo, m1_hi, gain1, qqt, st,
        |    crs * crs / cn + crs * crs / (nt - cn) AS gain,
        |    crs / cn AS m_lo, -crs / (nt - cn) AS m_hi
        |  FROM p2 WHERE cn < nt
        |), b2 AS (
        |  SELECT * FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, q) AS rn FROM g2)
        |  WHERE rn = 1
        |), base AS (
        |  SELECT nt, t1, m1_lo, m1_hi, gain1, q AS t2, m_lo AS m2_lo,
        |    m_hi AS m2_hi, gain AS gain2,
        |    qqt - CAST(st AS DOUBLE) * st / nt AS sse0
        |  FROM b2
        |)
        |SELECT CAST(t1 AS INT) AS t1,
        |  round(0.5 * m1_lo, 6) AS inc1_lo, round(0.5 * m1_hi, 6) AS inc1_hi,
        |  CAST(t2 AS INT) AS t2,
        |  round(0.5 * m2_lo, 6) AS inc2_lo, round(0.5 * m2_hi, 6) AS inc2_hi,
        |  round(sse0 / nt, 6) AS mse0,
        |  round((sse0 - 0.75 * gain1) / nt, 6) AS mse1,
        |  round((sse0 - 0.75 * gain1 - 0.75 * gain2) / nt, 6) AS mse2
        |FROM base""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).lineitem
        .select(expr("CAST(l_quantity AS BIGINT)").as("q"),
          expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
      val g = s.groupBy("q")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
          sum(col("y") * col("y")).as("qq"))
        .transform(localCheckpoint) // <=50 rows; everything below is bounded
      val tot = g.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
        sum(col("qq")).as("qqt"))
      val r1 = g.crossJoin(broadcast(tot))
        .select(col("q"), col("n"),
          (col("s") - col("n") * (col("st").cast("double") / col("nt")))
            .as("rs"),
          col("nt"), col("st"), col("qqt"))
      def bestSplit(r: org.apache.spark.sql.DataFrame, keep: Seq[String]) = {
        // windows over the quantile-candidate table: measured 50 rows @
        // sf0.01 AND sf0.1 (PlanProbe r7) — constant
        val w = Window.orderBy("q")
        val p = r
          .withColumn("cn", sum(col("n")).over(w))
          .withColumn("crs", sum(col("rs")).over(w))
          .filter(col("cn") < col("nt"))
          .withColumn("gain", col("crs") * col("crs") / col("cn")
            + col("crs") * col("crs") / (col("nt") - col("cn")))
          .withColumn("m_lo", col("crs") / col("cn"))
          .withColumn("m_hi", -col("crs") / (col("nt") - col("cn")))
        p.withColumn("rn", row_number().over(
            Window.orderBy(col("gain").desc, col("q"))))
          .filter(col("rn") === 1)
          .select((Seq("q", "gain", "m_lo", "m_hi") ++ keep).map(col): _*)
      }
      val b1 = bestSplit(r1, Seq("nt", "st", "qqt"))
        .withColumnRenamed("q", "t1").withColumnRenamed("gain", "gain1")
        .withColumnRenamed("m_lo", "m1_lo").withColumnRenamed("m_hi", "m1_hi")
      val r2 = r1.select("q", "n", "rs").crossJoin(broadcast(b1))
        .select(col("q"), col("n"),
          (col("rs") - col("n") * 0.5 * when(col("q") <= col("t1"),
            col("m1_lo")).otherwise(col("m1_hi"))).as("rs"),
          col("nt"), col("t1"), col("m1_lo"), col("m1_hi"), col("gain1"),
          col("qqt"), col("st"))
      val b2 = bestSplit(r2,
        Seq("nt", "t1", "m1_lo", "m1_hi", "gain1", "qqt", "st"))
      b2.withColumn("sse0",
          col("qqt") - col("st").cast("double") * col("st") / col("nt"))
        .select(col("t1").cast("int").as("t1"),
          round(lit(0.5) * col("m1_lo"), 6).as("inc1_lo"),
          round(lit(0.5) * col("m1_hi"), 6).as("inc1_hi"),
          col("q").cast("int").as("t2"),
          round(lit(0.5) * col("m_lo"), 6).as("inc2_lo"),
          round(lit(0.5) * col("m_hi"), 6).as("inc2_hi"),
          round(col("sse0") / col("nt"), 6).as("mse0"),
          round((col("sse0") - lit(0.75) * col("gain1")) / col("nt"), 6)
            .as("mse1"),
          round((col("sse0") - lit(0.75) * col("gain1")
            - lit(0.75) * col("gain")) / col("nt"), 6).as("mse2"))
    }
  )
}
