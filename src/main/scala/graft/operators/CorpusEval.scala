package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Round-10 corpus-evaluation wave: the measurement operators a
  * training-data pipeline runs between curation and the trainer —
  * retrieval-quality metrics for the embedding index, inter-rater
  * agreement for the labeling queue, and generation-diversity
  * metrics for the corpus dashboards.
  *
  * Reference anchor: clone_databases.sh has no analytics surface; these
  * extend the engine's LLM-pipeline operator set (SURVEY §2B north
  * star). Design discipline as everywhere in this repo: one keyed
  * shuffle per operator where possible, windows only partitioned by a
  * bounded key (never a global window), floats only in final reported
  * ratios (round 6), counts exact.
  */
object CorpusEval {

  /** Hard cap on a broadcast eval panel. Eval panels are FIXED-SIZE
    * sets in practice (a curated query set, not a corpus sample), and
    * the panel × corpus join shape depends on it: broadcasting a
    * corpus FRACTION grows with the corpus and dies at 100 TB. The
    * guard makes that a contract — a panel that outgrows the cap
    * fails loudly at plan time instead of silently melting the
    * broadcast, and the fix (sample/curate the panel upstream, or
    * switch candidate generation to the IVF/LSH machinery in
    * Similarity/VectorCuration) is named in the error. */
  private[graft] val MaxPanelRows = 4096L

  /** Guard + materialization, IN THAT ORDER: the cap check runs first
    * as `limit(cap+1).count()` — bounded work that never materializes
    * more than cap+1 rows, so the exact abuse the guard exists for (a
    * corpus-fraction panel) fails BEFORE paying to store it (a
    * checkpoint-first order would spill the whole oversized panel to
    * executor storage — or OOM — just to learn it's oversized). Only
    * the validated panel is then localCheckpoint'ed (eager), so every
    * downstream use reads materialized blocks — one execution of the
    * panel plan for all query executions. */
  private[graft] def boundedPanel(
      panel: org.apache.spark.sql.DataFrame,
      cap: Long = MaxPanelRows): org.apache.spark.sql.DataFrame = {
    require(cap < Long.MaxValue, "cap must leave room for cap + 1")
    val probe = panel.limit((cap + 1).min(Int.MaxValue.toLong).toInt).count()
    require(probe <= cap,
      s"eval panel exceeds $cap rows (cap): panels must be bounded " +
        "fixed-size sets — curate or sample the panel upstream, or " +
        "generate candidates with the IVF/LSH operators instead of " +
        "broadcasting a corpus fraction")
    panel.transform(localCheckpoint)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- labeled retrieval evaluation (recall@10 / MRR@10 / MAP@10
    //      against LABEL ground truth): complementary to
    //      q_retrieval_metrics, which grades a truncated index against
    //      the full-dim ranking (index FAITHFULNESS, no labels) — this
    //      one measures end-task RELEVANCE: a deterministic query panel
    //      (vec_id % 29) is ranked against the corpus by exact
    //      fixed-point cosine, relevance = label match, and the three
    //      standard rank metrics aggregate per label. All-pairs here is panel × corpus (bounded by the
    //      panel size, not N²); at 100 TB the candidate generation is
    //      the IVF/LSH machinery already in this library and the
    //      metric math is unchanged. Log-free metric choice (MAP, not
    //      nDCG) keeps every per-query value a ratio of small
    //      integers, so cross-engine parity is exact at round 6.
    QueryDef.checked(
      "q_retrieval_eval", {
        val cos = graft.functions.VectorFunctions
          .duckCosineSql("q.qe", "b.embedding")
        s"""WITH q AS (
           |  SELECT vec_id AS qid, label AS qlabel, embedding AS qe
           |  FROM embeddings WHERE vec_id % 29 = 0
           |), c AS (
           |  SELECT q.qid, q.qlabel,
           |    CAST(round(($cos) * 1000000) AS BIGINT) AS sim_fp,
           |    b.vec_id AS cid,
           |    CASE WHEN b.label = q.qlabel THEN 1 ELSE 0 END AS rel
           |  FROM q JOIN embeddings b ON b.vec_id <> q.qid
           |), r AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY qid ORDER BY sim_fp DESC, cid) AS rnk
           |  FROM c
           |), rel_tot AS (
           |  SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel
           |  FROM c GROUP BY qid
           |), top AS (
           |  SELECT qid, qlabel, rnk, rel,
           |    CAST(sum(rel) OVER (PARTITION BY qid ORDER BY rnk)
           |      AS DOUBLE) / rnk AS prec_at
           |  FROM r WHERE rnk <= 10
           |), perq AS (
           |  SELECT qid, qlabel,
           |    sum(rel) AS hits,
           |    min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
           |    sum(CASE WHEN rel = 1 THEN prec_at ELSE 0 END) AS ap_num
           |  FROM top GROUP BY qid, qlabel
           |)
           |SELECT qlabel AS label, count(*) AS n_queries,
           |  round(avg(CAST(hits AS DOUBLE) / n_rel), 6) AS recall10,
           |  round(avg(CASE WHEN first_rel IS NULL THEN 0.0
           |    ELSE 1.0 / first_rel END), 6) AS mrr10,
           |  round(avg(ap_num / least(n_rel, 10)), 6) AS map10
           |FROM perq JOIN rel_tot USING (qid)
           |WHERE n_rel > 0
           |GROUP BY qlabel ORDER BY qlabel""".stripMargin
      }) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      // the fixture panel (vec_id % 29) stands in for a curated query
      // set; boundedPanel makes the fixed-size contract enforced, not
      // aspirational — at 100 TB the panel is what it is HERE (a few
      // thousand queries), never a corpus fraction
      val qs = boundedPanel(emb.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qe")))
      val pairs = Tables.spread(emb).join(broadcast(qs),
          col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("qe"), col("embedding")) * 1000000)
            .cast("long").as("sim_fp"),
          col("vec_id").as("cid"),
          when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_fp").desc, col("cid"))
      val ranked = pairs.withColumn("rnk", row_number().over(w))
      val relTot = pairs.groupBy("qid")
        .agg(sum(col("rel")).as("n_rel"))
      val top = ranked.filter(col("rnk") <= 10)
        .withColumn("prec_at",
          sum(col("rel")).over(Window.partitionBy("qid").orderBy("rnk"))
            .cast("double") / col("rnk"))
      val perq = top.groupBy("qid", "qlabel")
        .agg(sum(col("rel")).as("hits"),
          min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
          sum(when(col("rel") === 1, col("prec_at")).otherwise(0.0))
            .as("ap_num"))
      perq.join(relTot, Seq("qid")).filter(col("n_rel") > 0)
        .groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("hits").cast("double") / col("n_rel")), 6)
            .as("recall10"),
          round(avg(when(col("first_rel").isNull, 0.0)
            .otherwise(lit(1.0) / col("first_rel"))), 6).as("mrr10"),
          round(avg(col("ap_num") / least(col("n_rel"), lit(10L))), 6)
            .as("map10"))
        .orderBy("label")
    },

    // ---- scaling-law fit + extrapolation (training-ops planning):
    //      the log-log OLS every compute-allocation decision rests on —
    //      fit ln(L - E) = ln A + alpha * ln N over per-size loss
    //      observations, then extrapolate the fitted power law to
    //      candidate model sizes. The fixture derives 8 observations
    //      deterministically from events (a synthetic power-law term
    //      plus a data-keyed jitter, so the fit is non-trivial and
    //      identical in both engines); the irreducible-loss term E is
    //      declared, as in the Chinchilla parameterization. Scale
    //      shape: ONE corpus aggregate reduces to 8 rows, and the fit
    //      plus extrapolation stay inside the plan (a 1-row sufficient-
    //      statistics aggregate cross-joined with the model-sized
    //      target grid — no driver math, no window).
    QueryDef.checked(
      "q_scaling_law",
      """WITH obs AS (
        |  SELECT event_id % 8 AS b, avg(value) AS av
        |  FROM events GROUP BY 1
        |), pts AS (
        |  SELECT ln(1000000.0 * pow(2.0, b)) AS x,
        |    ln(8.0 * pow(2.0, -0.35 * b) + av / 5000.0) AS y
        |  FROM obs
        |), fit AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM pts
        |), ab AS (
        |  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |      AS icept
        |  FROM fit
        |)
        |SELECT t.target_n,
        |  round(2.0 + exp(icept + slope * ln(CAST(t.target_n AS DOUBLE))),
        |    6) AS pred_loss,
        |  round(slope, 6) AS alpha, round(icept, 6) AS ln_a
        |FROM ab, (VALUES (10000000000), (100000000000),
        |  (1000000000000), (10000000000000)) t(target_n)
        |ORDER BY t.target_n""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val obs = Tables(spark, dir).events
        .groupBy((col("event_id") % 8).as("b"))
        .agg(avg(col("value")).as("av"))
      val pts = obs.select(
        log(lit(1000000.0) * pow(lit(2.0), col("b").cast("double")))
          .as("x"),
        log(lit(8.0) * pow(lit(2.0), lit(-0.35) * col("b").cast("double"))
          + col("av") / 5000.0).as("y"))
      val fit = pts.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      val ab = fit.select(slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("n")).as("icept"))
      val targets = Seq(10000000000L, 100000000000L,
        1000000000000L, 10000000000000L).toDF("target_n")
      ab.crossJoin(broadcast(targets))
        .select(col("target_n"),
          round(lit(2.0) + exp(col("icept") +
            col("slope") * log(col("target_n").cast("double"))), 6)
            .as("pred_loss"),
          round(col("slope"), 6).as("alpha"),
          round(col("icept"), 6).as("ln_a"))
        .orderBy("target_n")
    },

    // ---- inter-rater agreement, Cohen's kappa (two SPECIFIC raters,
    //      each with its OWN marginal distribution): complementary to
    //      q_rater_kappa's Fleiss kappa, which pools interchangeable
    //      raters under one shared marginal — Cohen's chance term
    //      p_e = sum_c p1(c) * p2(c) charges each rater its own bias, the
    //      statistic to use when the two raters are a model and a
    //      human (or two distinct models) rather than a rater pool.
    //      The fixture
    //      derives both raters deterministically from the data (size
    //      buckets; rater 2 sees a doc-keyed perturbation, so
    //      disagreement clusters at bucket boundaries exactly like
    //      real annotator noise). One group-by pass builds every
    //      marginal; kappa is driver-free arithmetic on the
    //      aggregates. At 100 TB: still one keyed aggregate.
    QueryDef.checked(
      "q_rater_agreement",
      """WITH rated AS (
        |  SELECT lang,
        |    CASE WHEN n_chars < 200 THEN 's'
        |         WHEN n_chars < 400 THEN 'm' ELSE 'l' END AS r1,
        |    CASE WHEN n_chars + (doc_id % 101) - 50 < 200 THEN 's'
        |         WHEN n_chars + (doc_id % 101) - 50 < 400 THEN 'm'
        |         ELSE 'l' END AS r2
        |  FROM documents
        |), m AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS agree,
        |    CAST(sum(CASE WHEN r1 = 's' THEN 1 ELSE 0 END) AS BIGINT) AS a_s,
        |    CAST(sum(CASE WHEN r1 = 'm' THEN 1 ELSE 0 END) AS BIGINT) AS a_m,
        |    CAST(sum(CASE WHEN r1 = 'l' THEN 1 ELSE 0 END) AS BIGINT) AS a_l,
        |    CAST(sum(CASE WHEN r2 = 's' THEN 1 ELSE 0 END) AS BIGINT) AS b_s,
        |    CAST(sum(CASE WHEN r2 = 'm' THEN 1 ELSE 0 END) AS BIGINT) AS b_m,
        |    CAST(sum(CASE WHEN r2 = 'l' THEN 1 ELSE 0 END) AS BIGINT) AS b_l
        |  FROM rated GROUP BY lang
        |)
        |SELECT lang, n, agree,
        |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
        |  round((CAST(a_s AS DOUBLE) * b_s + CAST(a_m AS DOUBLE) * b_m
        |    + CAST(a_l AS DOUBLE) * b_l) / (CAST(n AS DOUBLE) * n), 6)
        |    AS pe,
        |  round((CAST(agree AS DOUBLE) / n
        |    - (CAST(a_s AS DOUBLE) * b_s + CAST(a_m AS DOUBLE) * b_m
        |       + CAST(a_l AS DOUBLE) * b_l) / (CAST(n AS DOUBLE) * n))
        |   / (1 - (CAST(a_s AS DOUBLE) * b_s + CAST(a_m AS DOUBLE) * b_m
        |       + CAST(a_l AS DOUBLE) * b_l) / (CAST(n AS DOUBLE) * n)),
        |   6) AS kappa
        |FROM m ORDER BY lang""".stripMargin) { (spark, dir) =>
      val r1 = when(col("n_chars") < 200, "s")
        .when(col("n_chars") < 400, "m").otherwise("l")
      val shifted = col("n_chars") + (col("doc_id") % 101) - 50
      val r2 = when(shifted < 200, "s")
        .when(shifted < 400, "m").otherwise("l")
      val m = Tables(spark, dir).documents
        .select(col("lang"), r1.as("r1"), r2.as("r2"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("agree"),
          sum(when(col("r1") === "s", 1L).otherwise(0L)).as("a_s"),
          sum(when(col("r1") === "m", 1L).otherwise(0L)).as("a_m"),
          sum(when(col("r1") === "l", 1L).otherwise(0L)).as("a_l"),
          sum(when(col("r2") === "s", 1L).otherwise(0L)).as("b_s"),
          sum(when(col("r2") === "m", 1L).otherwise(0L)).as("b_m"),
          sum(when(col("r2") === "l", 1L).otherwise(0L)).as("b_l"))
      val nD = col("n").cast("double")
      val pe = (col("a_s").cast("double") * col("b_s") +
        col("a_m").cast("double") * col("b_m") +
        col("a_l").cast("double") * col("b_l")) / (nD * nD)
      val po = col("agree").cast("double") / col("n")
      m.select(col("lang"), col("n"), col("agree"),
          round(po, 6).as("po"), round(pe, 6).as("pe"),
          round((po - pe) / (lit(1) - pe), 6).as("kappa"))
        .orderBy("lang")
    },

    // ---- generation-diversity metrics (distinct-n over bigrams): the
    //      degeneration detector for model-output corpora — a
    //      repetition-looping model collapses distinct_ratio while
    //      per-doc counts look normal. Bigrams explode from the word
    //      array (one `transform` over index pairs, no self-join); the
    //      corpus-level distinct/hapax counts are one shuffle keyed by
    //      (lang, bigram) — the same key the 100 TB layout would
    //      bucket by.
    QueryDef.checked(
      "q_distinct_ngrams",
      """WITH t AS (
        |  SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents
        |), b AS (
        |  SELECT lang, w[i] || ' ' || w[i + 1] AS bg
        |  FROM t, UNNEST(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2
        |), cnt AS (
        |  SELECT lang, bg, count(*) AS c FROM b GROUP BY lang, bg
        |)
        |SELECT lang,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio
        |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin) {
      (spark, dir) =>
      val bg = Tables(spark, dir).documents
        .select(col("lang"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bg"))
      bg.groupBy("lang", "bg").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          round(count(lit(1)).cast("double") / sum(col("c")), 6)
            .as("distinct_ratio"))
        .orderBy("lang")
    }
  )
}
