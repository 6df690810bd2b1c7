package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Statistical-test and classifier-evaluation operators: one-way ANOVA,
  * Spearman rank correlation, a precision/recall threshold sweep,
  * Kruskal-Wallis rank ANOVA, and a trained naive-Bayes classifier with
  * its held-out confusion matrix.
  *
  * The reference (`clone_databases.sh`) verifies clones with row counts;
  * an analytics engine serving a training-data pipeline needs the next
  * step up: hypothesis tests over engagement metrics and eval harnesses
  * for the filters/classifiers the pipeline trains.
  *
  * Scale notes:
  *   - Every statistic here reduces to per-group sums/counts (one keyed
  *     aggregate over the fact table) followed by closed-form arithmetic
  *     on a bounded relation — the mergeable-moments discipline
  *     q_welch_ttest established.
  *   - Rank statistics (Spearman, Kruskal-Wallis, the PR sweep) never
  *     use a single-partition global window: ranks come from
  *     [[graft.util.RangeRank]] (range partitions + broadcast offsets),
  *     and tie-averaging runs in a window partitioned BY VALUE, so no
  *     task ever sorts more than its own range partition.
  *   - Tie-averaged ranks are exact in IEEE double (per-tie-group
  *     averages of consecutive integers land on x.0 / x.5, both
  *     representable), so rank sums below 2^53 are bit-identical on any
  *     partitioning and across engines.
  *   - The naive-Bayes model is a bounded relation (26 chars × |langs|)
  *     broadcast back over the corpus; log-probabilities are frozen to
  *     1e-6 fixed-point BIGINTs at model-build time so the per-doc
  *     argmax is integer arithmetic — no float tie can flip a
  *     prediction between engines or between runs.
  */
object Evaluation {

  /** Letters the naive-Bayes profiler counts — one definition shared by
    * the Spark side and the generated oracle SQL. */
  private val nbLetters: Seq[String] = ('a' to 'z').map(_.toString)

  val defs: Seq[QueryDef] = Seq(

    // ---- one-way ANOVA: does mean event value differ across event
    //      types? F = (SSB/(k-1)) / (SSW/(N-k)) from per-group
    //      (n, Σv, Σv²) — one aggregate pass, closed form on k rows.
    QueryDef.checked(
      "q_anova_oneway",
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type
        |), s AS (
        |  SELECT count(*) AS k, sum(n) AS nt,
        |    CAST(sum(CAST(sx AS DECIMAL(38,12))) AS DOUBLE) AS sxt,
        |    CAST(sum(CAST(sxx - sx * sx / n AS DECIMAL(38,12))) AS DOUBLE) AS ssw
        |  FROM g
        |), b AS (
        |  SELECT max(s.k) AS k, max(s.nt) AS nt, max(s.ssw) AS ssw,
        |    CAST(sum(CAST(g.n * (g.sx / g.n - s.sxt / s.nt)
        |      * (g.sx / g.n - s.sxt / s.nt) AS DECIMAL(38,12))) AS DOUBLE) AS ssb
        |  FROM g, s
        |)
        |SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS n_total,
        |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |  round((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS f_stat,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM b""".stripMargin) { (spark, dir) =>
      val g = Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum((col("value")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
      val s = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
        sum((col("sx")).cast("decimal(38,12)")).cast("double").as("sxt"),
        sum((col("sxx") - col("sx") * col("sx") / col("n")).cast("decimal(38,12)")).cast("double").as("ssw"))
      g.crossJoin(broadcast(s))
        .agg(max(col("k")).as("k"), max(col("nt")).as("nt"),
          max(col("ssw")).as("ssw"),
          sum((col("n") * (col("sx") / col("n") - col("sxt") / col("nt"))
            * (col("sx") / col("n") - col("sxt") / col("nt"))).cast("decimal(38,12)")).cast("double").as("ssb"))
        .select(col("k").cast("int").as("k"),
          col("nt").cast("long").as("n_total"),
          round(col("ssb"), 6).as("ss_between"),
          round(col("ssw"), 6).as("ss_within"),
          round((col("ssb") / (col("k") - 1))
            / (col("ssw") / (col("nt") - col("k"))), 6).as("f_stat"),
          round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
    },

    // ---- Spearman rank correlation between per-customer total spend
    //      and largest single order (cents, so tie groups are exact).
    //      Average-rank ties; Pearson on the rank pairs. Ranks via
    //      RangeRank (scale-safe), tie-average via a BY-VALUE window.
    QueryDef.checked(
      "q_spearman_corr",
      """WITH c AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c,
        |    max(CAST(round(o_totalprice * 100) AS BIGINT)) AS maxp_c
        |  FROM orders GROUP BY o_custkey
        |), r1 AS (
        |  SELECT o_custkey, spend_c, maxp_c,
        |    avg(rn) OVER (PARTITION BY spend_c) AS rs
        |  FROM (SELECT *, CAST(row_number()
        |      OVER (ORDER BY spend_c, o_custkey) AS DOUBLE) AS rn FROM c)
        |), r2 AS (
        |  SELECT o_custkey, rs,
        |    avg(rn2) OVER (PARTITION BY maxp_c) AS rm
        |  FROM (SELECT *, CAST(row_number()
        |      OVER (ORDER BY maxp_c, o_custkey) AS DOUBLE) AS rn2 FROM r1)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  round((count(*) * sum(rs * rm) - sum(rs) * sum(rm))
        |    / (sqrt(count(*) * sum(rs * rs) - sum(rs) * sum(rs))
        |     * sqrt(count(*) * sum(rm * rm) - sum(rm) * sum(rm))), 6)
        |    AS spearman_rho
        |FROM r2""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val c = Tables(spark, dir).orders
        .groupBy("o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_c"),
          max(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("maxp_c"))
      val r1 = graft.util.RangeRank
        .withGlobalRank(c, "rn", parts, col("spend_c"), col("o_custkey"))
        .withColumn("rs", avg(col("rn").cast("double"))
          .over(Window.partitionBy("spend_c")))
      val r2 = graft.util.RangeRank
        .withGlobalRank(r1, "rn2", parts, col("maxp_c"), col("o_custkey"))
        .withColumn("rm", avg(col("rn2").cast("double"))
          .over(Window.partitionBy("maxp_c")))
      r2.agg(count(lit(1)).as("n"), sum(col("rs") * col("rm")).as("sxy"),
        sum(col("rs")).as("sx"), sum(col("rm")).as("sy"),
        sum(col("rs") * col("rs")).as("sxx"),
        sum(col("rm") * col("rm")).as("syy"))
        .select(col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
             * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("spearman_rho"))
    },

    // ---- precision/recall sweep: score = event value, label =
    //      purchase; predict positive above each of 19 ventile cuts.
    //      The ventile assignment is RangeRank's scale-safe ntile; the
    //      confusion counts are running sums over the 20-row ventile
    //      aggregate (bounded window).
    QueryDef.checked(
      "q_pr_curve",
      """WITH s AS (
        |  SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |), t AS (
        |  SELECT y, ntile(20) OVER (ORDER BY score, event_id) AS tile FROM s
        |), agg AS (
        |  SELECT tile, count(*) AS n, sum(y) AS npos FROM t GROUP BY tile
        |), cum AS (
        |  SELECT tile AS k,
        |    sum(npos) OVER (ORDER BY tile) AS fn_k,
        |    sum(n) OVER (ORDER BY tile) AS n_le,
        |    sum(npos) OVER () AS pos_tot,
        |    sum(n) OVER () AS n_tot
        |  FROM agg
        |)
        |SELECT CAST(k AS INT) AS k,
        |  CAST(pos_tot - fn_k AS BIGINT) AS tp,
        |  CAST((n_tot - n_le) - (pos_tot - fn_k) AS BIGINT) AS fp,
        |  CAST(fn_k AS BIGINT) AS fn,
        |  round((pos_tot - fn_k) / CAST(n_tot - n_le AS DOUBLE), 6)
        |    AS precision_k,
        |  round((pos_tot - fn_k) / CAST(pos_tot AS DOUBLE), 6) AS recall_k,
        |  round(2.0 * (pos_tot - fn_k) / (n_tot - n_le + pos_tot), 6) AS f1_k
        |FROM cum WHERE k < 20 ORDER BY k""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val s = Tables(spark, dir).events
        .select(col("event_id"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("score"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
      val t = graft.util.RangeRank
        .withGlobalNtile(s, "tile", 20, parts, col("score"), col("event_id"))
      val agg = t.groupBy("tile")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      // 20-row tile relation: measured 20 @ sf0.01 AND sf0.1 (PlanProbe
      // r7) — bounded by construction
      val wCum = Window.orderBy("tile")
      val wAll = Window.partitionBy()
      agg
        .withColumn("fn_k", sum(col("npos")).over(wCum))
        .withColumn("n_le", sum(col("n")).over(wCum))
        .withColumn("pos_tot", sum(col("npos")).over(wAll))
        .withColumn("n_tot", sum(col("n")).over(wAll))
        .filter(col("tile") < 20)
        .select(col("tile").cast("int").as("k"),
          (col("pos_tot") - col("fn_k")).cast("long").as("tp"),
          ((col("n_tot") - col("n_le")) - (col("pos_tot") - col("fn_k")))
            .cast("long").as("fp"),
          col("fn_k").cast("long").as("fn"),
          round((col("pos_tot") - col("fn_k"))
            / (col("n_tot") - col("n_le")).cast("double"), 6).as("precision_k"),
          round((col("pos_tot") - col("fn_k"))
            / col("pos_tot").cast("double"), 6).as("recall_k"),
          round(lit(2.0) * (col("pos_tot") - col("fn_k"))
            / (col("n_tot") - col("n_le") + col("pos_tot")), 6).as("f1_k"))
        .orderBy("k")
    },

    // ---- Kruskal-Wallis rank ANOVA (the nonparametric q_anova_oneway):
    //      H from tie-averaged global ranks of event value by type, with
    //      the tie-correction divisor. Same RangeRank + BY-VALUE-window
    //      machinery as q_spearman_corr.
    QueryDef.checked(
      "q_kruskal_wallis",
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events
        |), r AS (
        |  SELECT event_type, v, avg(rn) OVER (PARTITION BY v) AS rk
        |  FROM (SELECT *, CAST(row_number()
        |      OVER (ORDER BY v, event_id) AS DOUBLE) AS rn FROM s)
        |), g AS (
        |  SELECT event_type, count(*) AS n, sum(rk) AS sr
        |  FROM r GROUP BY event_type
        |), tie AS (
        |  SELECT sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tsum
        |  FROM (SELECT count(*) AS cnt FROM s GROUP BY v)
        |), h AS (
        |  SELECT count(*) AS k, sum(n) AS nt, sum(sr * sr / n) AS srr FROM g
        |)
        |SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS n_total,
        |  round(12.0 / (nt * (nt + 1.0)) * srr - 3.0 * (nt + 1), 6) AS h_stat,
        |  round((12.0 / (nt * (nt + 1.0)) * srr - 3.0 * (nt + 1))
        |    / (1.0 - tsum / (CAST(nt AS DOUBLE) * nt * nt - nt)), 6)
        |    AS h_corrected
        |FROM h, tie""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val s = Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
        .transform(localCheckpoint) // ranks AND the tie profile read the same rows
      val r = graft.util.RangeRank
        .withGlobalRank(s, "rn", parts, col("v"), col("event_id"))
        .withColumn("rk", avg(col("rn").cast("double"))
          .over(Window.partitionBy("v")))
      val g = r.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("rk")).as("sr"))
      val h = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
        sum(col("sr") * col("sr") / col("n")).as("srr"))
      val tie = s.groupBy("v").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt").cast("double") * col("cnt") * col("cnt")
          - col("cnt")).as("tsum"))
      h.crossJoin(broadcast(tie))
        .select(col("k").cast("int").as("k"),
          col("nt").cast("long").as("n_total"),
          round(lit(12.0) / (col("nt") * (col("nt") + 1.0)) * col("srr")
            - lit(3.0) * (col("nt") + 1), 6).as("h_stat"),
          round((lit(12.0) / (col("nt") * (col("nt") + 1.0)) * col("srr")
            - lit(3.0) * (col("nt") + 1))
            / (lit(1.0) - col("tsum")
              / (col("nt").cast("double") * col("nt") * col("nt") - col("nt"))),
            6).as("h_corrected"))
    },

    // ---- multinomial naive Bayes language-ID: train letter-frequency
    //      profiles on docs with doc_id % 5 != 0 (Laplace-smoothed),
    //      classify the held-out 20%, report the confusion matrix.
    //      Letter counts come from the length-delta trick
    //      (len(t) - len(replace(t, ch, ''))) — per-row arithmetic, no
    //      char explosion; the model is 26 × |langs| rows broadcast back
    //      over the test split, and scores are 1e-6 fixed-point BIGINTs
    //      so the per-doc argmax can never float-tie.
    QueryDef.checked(
      "q_naive_bayes", {
        val letters = nbLetters.map(c => s"('$c')").mkString(", ")
        s"""WITH chars AS (SELECT ch FROM (VALUES $letters) t(ch)),
           |train AS (
           |  SELECT doc_id, lang, lower(text) AS txt FROM documents
           |  WHERE doc_id % 5 != 0
           |), test AS (
           |  SELECT doc_id, lang, lower(text) AS txt FROM documents
           |  WHERE doc_id % 5 = 0
           |), cnts AS (
           |  SELECT t.lang, c.ch,
           |    sum(CAST(length(t.txt) - length(replace(t.txt, c.ch, ''))
           |      AS BIGINT)) AS cnt
           |  FROM train t CROSS JOIN chars c GROUP BY t.lang, c.ch
           |), tot AS (
           |  SELECT lang, sum(cnt) AS total FROM cnts GROUP BY lang
           |), model AS (
           |  SELECT c.lang, c.ch,
           |    CAST(round(ln((c.cnt + 1.0) / (t.total + 26.0)) * 1000000)
           |      AS BIGINT) AS lp_fp
           |  FROM cnts c JOIN tot t USING (lang)
           |), prior AS (
           |  SELECT lang, CAST(round(ln(CAST(nd AS DOUBLE) / sum(nd) OVER ())
           |    * 1000000) AS BIGINT) AS prior_fp
           |  FROM (SELECT lang, count(*) AS nd FROM train GROUP BY lang) p
           |), feats AS (
           |  SELECT d.doc_id, d.lang AS actual, c.ch,
           |    CAST(length(d.txt) - length(replace(d.txt, c.ch, ''))
           |      AS BIGINT) AS cnt
           |  FROM test d CROSS JOIN chars c
           |), scored AS (
           |  SELECT f.doc_id, f.actual, m.lang AS cand,
           |    max(p.prior_fp) + sum(f.cnt * m.lp_fp) AS score
           |  FROM feats f JOIN model m ON m.ch = f.ch
           |  JOIN prior p ON p.lang = m.lang
           |  GROUP BY f.doc_id, f.actual, m.lang
           |), pred AS (
           |  SELECT doc_id, actual, cand AS predicted
           |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, cand) AS rn FROM scored) r
           |  WHERE rn = 1
           |)
           |SELECT actual, predicted, count(*) AS n
           |FROM pred GROUP BY actual, predicted
           |ORDER BY actual, predicted""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val chars = nbLetters.toDF("ch")
      // spread before the ×26 char crossJoin (Tables.spread contract):
      // the length-delta letter counting scans every doc's text 26
      // times, and the one-split documents scan ran BOTH the train and
      // test counting stages in single 0.5-0.65 s tasks (job trace, r16);
      // the repartition moves only the pre-expansion doc rows
      val docs = graft.Tables.spread(Tables(spark, dir).documents)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("txt"))
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val cnts = train.crossJoin(broadcast(chars))
        .select(col("lang"), col("ch"),
          (length(col("txt")) - length(expr("replace(txt, ch, '')")))
            .cast("long").as("cnt"))
        .groupBy("lang", "ch").agg(sum(col("cnt")).as("cnt"))
      val tot = cnts.groupBy("lang").agg(sum(col("cnt")).as("total"))
      val model = cnts.join(tot, Seq("lang"))
        .select(col("lang"), col("ch"),
          expr("CAST(round(ln((cnt + 1.0) / (total + 26.0)) * 1000000) AS BIGINT)")
            .as("lp_fp"))
      val nd = train.groupBy("lang").agg(count(lit(1)).as("nd"))
      val prior = nd
        // |langs| rows: measured 5 @ sf0.01 AND sf0.1 (PlanProbe r7)
        .withColumn("prior_fp",
          expr("CAST(round(ln(CAST(nd AS DOUBLE) / (sum(nd) OVER ())) * 1000000) AS BIGINT)"))
        .select(col("lang").as("cand"), col("prior_fp"))
      val feats = test.crossJoin(broadcast(chars))
        .select(col("doc_id"), col("lang").as("actual"), col("ch"),
          (length(col("txt")) - length(expr("replace(txt, ch, '')")))
            .cast("long").as("cnt"))
      val scored = feats
        .join(broadcast(model), Seq("ch"))
        .groupBy(col("doc_id"), col("actual"), col("lang").as("cand"))
        .agg(sum(col("cnt") * col("lp_fp")).as("sfp"))
        .join(broadcast(prior), Seq("cand"))
        .withColumn("score", col("prior_fp") + col("sfp"))
      scored
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand"))))
        .filter(col("rn") === 1)
        .groupBy(col("actual"), col("cand").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    },

    // ---- partial correlation: does order value still track item count
    //      once order YEAR is controlled for? r_xy·z from the three
    //      pairwise Pearson correlations — one joined moments pass,
    //      1-row closed form. The confounder-removal counterpart of
    //      q_corr_regr's raw correlation.
    QueryDef.checked(
      "q_partial_correlation",
      """WITH d AS (
        |  SELECT o.o_totalprice AS x, CAST(l.n AS DOUBLE) AS y,
        |    CAST(year(o.o_orderdate) AS DOUBLE) AS z
        |  FROM orders o JOIN (
        |    SELECT l_orderkey, count(*) AS n FROM lineitem
        |    GROUP BY l_orderkey) l
        |    ON l.l_orderkey = o.o_orderkey
        |), m AS (
        |  SELECT count(*) AS n, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    sum(y) AS sy, sum(z) AS sz,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x*z AS DECIMAL(38,12))) AS DOUBLE) AS sxz, sum(y*z) AS syz,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz
        |  FROM d
        |), r AS (
        |  SELECT n,
        |    (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
        |      AS rxy,
        |    (n*sxz - sx*sz) / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz))
        |      AS rxz,
        |    (n*syz - sy*sz) / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz))
        |      AS ryz
        |  FROM m
        |)
        |SELECT CAST(n AS BIGINT) AS n, round(rxy, 6) AS r_xy,
        |  round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
        |  round((rxy - rxz * ryz)
        |    / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6)
        |    AS r_xy_given_z
        |FROM r""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val items = t.lineitem.groupBy("l_orderkey")
        .agg(count(lit(1)).as("ni"))
      val m = t.orders.join(items, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_totalprice").as("x"), col("ni").cast("double").as("y"),
          year(col("o_orderdate")).cast("double").as("z"))
        .agg(count(lit(1)).as("n"), sum((col("x")).cast("decimal(38,12)")).cast("double").as("sx"),
          sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum((col("x") * col("y")).cast("decimal(38,12)")).cast("double").as("sxy"),
          sum((col("x") * col("z")).cast("decimal(38,12)")).cast("double").as("sxz"),
          sum(col("y") * col("z")).as("syz"),
          sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"))
      def corr2(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        (col("n") * col(sab) - col(sa) * col(sb)) /
          (sqrt(col("n") * col(saa) - col(sa) * col(sa))
            * sqrt(col("n") * col(sbb) - col(sb) * col(sb)))
      val r = m.select(col("n"),
        corr2("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
        corr2("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
        corr2("syz", "sy", "sz", "syy", "szz").as("ryz"))
      r.select(col("n").cast("long").as("n"),
        round(col("rxy"), 6).as("r_xy"), round(col("rxz"), 6).as("r_xz"),
        round(col("ryz"), 6).as("r_yz"),
        round((col("rxy") - col("rxz") * col("ryz"))
          / (sqrt(lit(1) - col("rxz") * col("rxz"))
            * sqrt(lit(1) - col("ryz") * col("ryz"))), 6)
          .as("r_xy_given_z"))
    },

    // ---- Cronbach's alpha: internal-consistency reliability of a
    //      3-item per-user engagement scale (click/view/purchase
    //      counts) — α = k/(k−1)·(1 − Σ item variance / total
    //      variance). One per-user aggregate, one moments pass, 1-row
    //      closed form; near-zero/negative α correctly reports that
    //      independent synthetic event streams do NOT form a scale.
    QueryDef.checked(
      "q_cronbach_alpha",
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS i1,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS i2,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS i3
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT count(*) AS n,
        |    sum(i1) AS s1, sum(i1*i1) AS q1,
        |    sum(i2) AS s2, sum(i2*i2) AS q2,
        |    sum(i3) AS s3, sum(i3*i3) AS q3,
        |    sum(i1+i2+i3) AS st, sum((i1+i2+i3)*(i1+i2+i3)) AS qt
        |  FROM u
        |), v AS (
        |  SELECT n,
        |    (q1 - s1*s1/n) / (n - 1) AS v1,
        |    (q2 - s2*s2/n) / (n - 1) AS v2,
        |    (q3 - s3*s3/n) / (n - 1) AS v3,
        |    (qt - st*st/n) / (n - 1) AS vt
        |  FROM m
        |)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  round(v1, 6) AS var_1, round(v2, 6) AS var_2,
        |  round(v3, 6) AS var_3, round(vt, 6) AS var_total,
        |  round(3.0 / 2.0 * (1 - (v1 + v2 + v3) / vt), 6) AS cronbach_alpha
        |FROM v""".stripMargin) { (spark, dir) =>
      val u = Tables(spark, dir).events
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0))
          .cast("double").as("i1"),
          sum(when(col("event_type") === "view", 1).otherwise(0))
            .cast("double").as("i2"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .cast("double").as("i3"))
      val tot = col("i1") + col("i2") + col("i3")
      val m = u.agg(count(lit(1)).as("n"),
        sum(col("i1")).as("s1"), sum(col("i1") * col("i1")).as("q1"),
        sum(col("i2")).as("s2"), sum(col("i2") * col("i2")).as("q2"),
        sum(col("i3")).as("s3"), sum(col("i3") * col("i3")).as("q3"),
        sum(tot).as("st"), sum(tot * tot).as("qt"))
      def vr(q: String, s: String) =
        (col(q) - col(s) * col(s) / col("n")) / (col("n") - 1)
      val v = m.select(col("n"), vr("q1", "s1").as("v1"),
        vr("q2", "s2").as("v2"), vr("q3", "s3").as("v3"),
        vr("qt", "st").as("vt"))
      v.select(col("n").cast("long").as("n_users"),
        round(col("v1"), 6).as("var_1"), round(col("v2"), 6).as("var_2"),
        round(col("v3"), 6).as("var_3"), round(col("vt"), 6).as("var_total"),
        round(lit(3.0) / 2.0 * (lit(1) - (col("v1") + col("v2") + col("v3"))
          / col("vt")), 6).as("cronbach_alpha"))
    },

    // ---- effect sizes (purchase vs click values): Cohen's d and
    //      Hedges' g from pooled moments, plus the nonparametric
    //      Cliff's delta = 2U/(n1·n2) − 1 from tie-averaged ranks
    //      (RangeRank + BY-VALUE window, the q_spearman_corr
    //      machinery). The magnitude companions to q_welch_ttest's
    //      p-value: significance without size is how big-data A/B
    //      programs ship no-op changes.
    QueryDef.checked(
      "q_effect_sizes",
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS q
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY event_type
        |), w AS (
        |  SELECT
        |    max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
        |    max(CASE WHEN event_type = 'click' THEN n END) AS n2,
        |    max(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
        |    max(CASE WHEN event_type = 'click' THEN s END) AS s2,
        |    max(CASE WHEN event_type = 'purchase' THEN q END) AS q1,
        |    max(CASE WHEN event_type = 'click' THEN q END) AS q2
        |  FROM g
        |), u AS (
        |  SELECT sum(CASE WHEN event_type = 'purchase' THEN rk ELSE 0 END)
        |    AS r1
        |  FROM (
        |    SELECT event_type, avg(rn) OVER (PARTITION BY v) AS rk
        |    FROM (
        |      SELECT event_type,
        |        CAST(round(value * 1000000) AS BIGINT) AS v,
        |        CAST(row_number() OVER (ORDER BY
        |          CAST(round(value * 1000000) AS BIGINT), event_id)
        |          AS DOUBLE) AS rn
        |      FROM events WHERE event_type IN ('purchase', 'click')) a) b
        |), es AS (
        |  SELECT n1, n2,
        |    (s1/n1 - s2/n2)
        |      / sqrt(((q1 - s1*s1/n1) + (q2 - s2*s2/n2)) / (n1 + n2 - 2))
        |      AS d,
        |    u.r1 - n1 * (n1 + 1.0) / 2 AS bigu
        |  FROM w, u
        |)
        |SELECT CAST(n1 AS BIGINT) AS n_purchase,
        |  CAST(n2 AS BIGINT) AS n_click,
        |  round(d, 6) AS cohens_d,
        |  round(d * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
        |  round(2.0 * bigu / (CAST(n1 AS DOUBLE) * n2) - 1, 6)
        |    AS cliffs_delta
        |FROM es""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val ev = Tables(spark, dir).events
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), col("event_id"), col("value"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
        .transform(localCheckpoint) // moments AND the rank pass share one scan
      val w = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum((col("value")).cast("decimal(38,12)")).cast("double").as("s"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("q"))
        .agg(max(when(col("event_type") === "purchase", col("n"))).as("n1"),
          max(when(col("event_type") === "click", col("n"))).as("n2"),
          max(when(col("event_type") === "purchase", col("s"))).as("s1"),
          max(when(col("event_type") === "click", col("s"))).as("s2"),
          max(when(col("event_type") === "purchase", col("q"))).as("q1"),
          max(when(col("event_type") === "click", col("q"))).as("q2"))
      val ranked = graft.util.RangeRank
        .withGlobalRank(ev, "rn", parts, col("v"), col("event_id"))
        .withColumn("rk", avg(col("rn").cast("double"))
          .over(Window.partitionBy("v")))
      val u = ranked.agg(sum(when(col("event_type") === "purchase",
        col("rk")).otherwise(0.0)).as("r1"))
      val d = (col("s1") / col("n1") - col("s2") / col("n2")) /
        sqrt(((col("q1") - col("s1") * col("s1") / col("n1"))
          + (col("q2") - col("s2") * col("s2") / col("n2")))
          / (col("n1") + col("n2") - 2))
      w.crossJoin(broadcast(u))
        .select(col("n1"), col("n2"), d.as("d"),
          (col("r1") - col("n1") * (col("n1") + 1.0) / 2).as("bigu"))
        .select(col("n1").cast("long").as("n_purchase"),
          col("n2").cast("long").as("n_click"),
          round(col("d"), 6).as("cohens_d"),
          round(col("d") * (lit(1) - lit(3.0)
            / (lit(4) * (col("n1") + col("n2")) - 9)), 6).as("hedges_g"),
          round(lit(2.0) * col("bigu")
            / (col("n1").cast("double") * col("n2")) - 1, 6)
            .as("cliffs_delta"))
    },

    // ---- isotonic calibration (pool-adjacent-violators): the
    //      monotone-nondecreasing fit of purchase rate on score, via the
    //      minimax closed form g(i) = max_{j≤i} min_{k≥i} avg(y[j..k])
    //      — exactly the PAV solution, but expressed as relational
    //      algebra instead of the sequential pooling loop. The scale
    //      split: the corpus contributes ONE pass (ventile assignment
    //      via RangeRank + a 50-row bin aggregate); the cubic-looking
    //      minimax then runs entirely on the bounded 50-bin relation
    //      (≤1275 (j,k) pairs; suffix-min window PARTITION BY j; one
    //      grouped max) — driver-free and size-independent of the data.
    //      q_temperature_scaling is the parametric sibling; this is the
    //      nonparametric calibrator sklearn's isotonic mode ships.
    QueryDef.checked(
      "q_isotonic_calibration",
      """WITH s AS (
        |  SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |), t AS (
        |  SELECT y, ntile(50) OVER (ORDER BY score, event_id) AS bin FROM s
        |), b AS (
        |  SELECT bin, count(*) AS n, sum(y) AS pos FROM t GROUP BY bin
        |), c AS (
        |  SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin) AS cn,
        |    sum(pos) OVER (ORDER BY bin) AS cpos
        |  FROM b
        |), pair AS (
        |  SELECT j.bin AS j, k.bin AS k,
        |    (k.cpos - j.cpos + j.pos) / CAST(k.cn - j.cn + j.n AS DOUBLE)
        |      AS avg_jk
        |  FROM c j JOIN c k ON j.bin <= k.bin
        |), mn AS (
        |  SELECT j, k, min(avg_jk) OVER (PARTITION BY j ORDER BY k DESC)
        |    AS m
        |  FROM pair
        |), fit AS (
        |  SELECT k AS bin, max(m) AS iso FROM mn GROUP BY k
        |)
        |SELECT CAST(b.bin AS INT) AS bin, CAST(b.n AS BIGINT) AS n,
        |  round(b.pos / CAST(b.n AS DOUBLE), 6) AS raw_rate,
        |  round(f.iso, 6) AS iso_rate
        |FROM b JOIN fit f ON b.bin = f.bin
        |ORDER BY bin""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val s = Tables(spark, dir).events
        .select(col("event_id"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("score"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
      val t = graft.util.RangeRank
        .withGlobalNtile(s, "bin", 50, parts, col("score"), col("event_id"))
      val b = t.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .transform(localCheckpoint) // 50 rows; feeds prefix sums AND the final join
      // everything below runs on the bounded bin relation: measured 50
      // rows @ sf0.01 AND sf0.1 (PlanProbe r7)
      val c = b
        .withColumn("cn", sum(col("n")).over(Window.orderBy("bin")))
        .withColumn("cpos", sum(col("pos")).over(Window.orderBy("bin")))
      val cj = c.select(col("bin").as("j"), col("n").as("n_j"),
        col("pos").as("pos_j"), col("cn").as("cn_j"), col("cpos").as("cpos_j"))
      val ck = c.select(col("bin").as("k"), col("cn").as("cn_k"),
        col("cpos").as("cpos_k"))
      val pair = cj.join(broadcast(ck), col("j") <= col("k"))
        .select(col("j"), col("k"),
          ((col("cpos_k") - col("cpos_j") + col("pos_j")) /
            (col("cn_k") - col("cn_j") + col("n_j")).cast("double"))
            .as("avg_jk"))
      val fit = pair
        .withColumn("m", min(col("avg_jk"))
          .over(Window.partitionBy("j").orderBy(col("k").desc)))
        .groupBy("k").agg(max(col("m")).as("iso"))
      b.join(fit, col("bin") === col("k"))
        .select(col("bin").cast("int").as("bin"), col("n").cast("long").as("n"),
          round(col("pos") / col("n").cast("double"), 6).as("raw_rate"),
          round(col("iso"), 6).as("iso_rate"))
        .orderBy("bin")
    }
  )
}
