package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Model-evaluation aggregation: the statistics an eval harness
  * computes AFTER the per-sample scores exist — self-consistency
  * majority voting, length-controlled pairwise win rates, and the
  * paired bootstrap for "is A actually better than B". The per-sample
  * score is always a deterministic integer proxy (the suite's
  * stand-in for a model score), so both engines replay the identical
  * decision at every step.
  *
  * Scale stance (an eval store of 10⁹ samples):
  *   - Majority voting is one keyed count + one argmax window over a
  *     BOUNDED candidate set (answers-per-task), then a corpus fold —
  *     never a global window.
  *   - The win-rate pairing joins rank-aligned rows WITHIN a length
  *     bucket (rank windows partitioned by (system, bucket) —
  *     bounded), so the pair join is keyed and the comparison
  *     population is explicit, not an all-pairs blow-up.
  *   - The paired bootstrap rides Poisson resampling: 32 replica
  *     weights derived per (doc, replica) from md5 — one widening
  *     flatMap (×32) and one keyed aggregate; no per-replica scan.
  */
object EvalAggregation {

  /** Deterministic "answer" a sample gives: the cents bucket. */
  private val AnsSpark = "CAST(round(value * 100) AS BIGINT) div 5000"
  private val AnsDuck = "CAST(round(value * 100) AS BIGINT) // 5000"

  /** 1e-6 fixed-point type-token ratio over `text` (scorer A). */
  private val TtrSpark =
    "size(array_distinct(split(text, ' '))) * 1000000 div size(split(text, ' '))"
  private val TtrDuck =
    "len(list_distinct(string_split(text, ' '))) * 1000000 // len(string_split(text, ' '))"

  /** Distinct-bigram ratio (scorer B): unique adjacent token pairs
    * over token count − 1 (1 for single-token docs), 1e-6 fixed
    * point — a repetition-sensitive quality proxy, deliberately
    * correlated-but-different from TTR so the paired test has real
    * per-doc deltas. */
  private val BigSpark =
    """size(array_distinct(zip_with(
      |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
      |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
      |  (a, b) -> concat(a, ' ', b)))) * 1000000
      | div greatest(size(split(text, ' ')) - 1, 1)""".stripMargin
  private val BigDuck =
    """len(list_distinct(list_transform(
      |  range(1, len(string_split(text, ' '))),
      |  i -> string_split(text, ' ')[i] || ' ' ||
      |       string_split(text, ' ')[i + 1]))) * 1000000
      | // greatest(len(string_split(text, ' ')) - 1, 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- self-consistency majority vote: per task (user), the modal
    //      answer across its samples, ties broken toward the smaller
    //      answer (deterministic, as a real harness must be to be
    //      reproducible); the corpus report carries how often voting
    //      is unanimous, contested (a tie for the mode), and how often
    //      it CHANGES the answer vs taking the chronologically first
    //      sample — the number that justifies paying for k samples.
    //      Support is an exact per-task rational folded as integer
    //      div, so no float mean order-dependence.
    QueryDef.checked(
      "q_majority_vote", {
        s"""WITH s AS (
           |  SELECT user_id, event_id, $AnsDuck AS ans FROM events
           |), per AS (
           |  SELECT user_id, ans, count(*) AS c FROM s GROUP BY 1, 2
           |), task AS (
           |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
           |    CAST(max(c) AS BIGINT) AS maxc,
           |    CAST(count(*) FILTER (WHERE c = (
           |      SELECT max(c) FROM per p2 WHERE p2.user_id = per.user_id))
           |      AS BIGINT) AS n_modes,
           |    CAST(min(ans) FILTER (WHERE c = (
           |      SELECT max(c) FROM per p2 WHERE p2.user_id = per.user_id))
           |      AS BIGINT) AS maj
           |  FROM per GROUP BY user_id
           |), first_ans AS (
           |  SELECT user_id, min_by(ans, event_id) AS f FROM s GROUP BY 1
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_tasks,
           |  CAST(count(*) FILTER (WHERE maxc = n) AS BIGINT) AS n_unanimous,
           |  CAST(count(*) FILTER (WHERE n_modes > 1) AS BIGINT) AS n_tied,
           |  CAST(count(*) FILTER (WHERE maj <> f) AS BIGINT) AS n_changed,
           |  CAST(sum(maxc * 1000000 // n) // count(*) AS BIGINT)
           |    AS mean_support_fp
           |FROM task JOIN first_ans USING (user_id)""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s = Tables(spark, dir).events
        .select(col("user_id"), col("event_id"), expr(AnsSpark).as("ans"))
      val per = s.groupBy("user_id", "ans").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("user_id")
      val task = per
        .withColumn("n", sum("c").over(w))
        .withColumn("maxc", max("c").over(w))
        .groupBy("user_id")
        .agg(first("n").as("n"), first("maxc").as("maxc"),
          sum(when(col("c") === col("maxc"), 1L).otherwise(0L))
            .as("n_modes"),
          min(when(col("c") === col("maxc"), col("ans"))).as("maj"))
      val firstAns = s.groupBy("user_id")
        .agg(min_by(col("ans"), col("event_id")).as("f"))
      task.join(firstAns, Seq("user_id"))
        .agg(count(lit(1)).as("n_tasks"),
          sum(when(col("maxc") === col("n"), 1L).otherwise(0L))
            .as("n_unanimous"),
          sum(when(col("n_modes") > 1, 1L).otherwise(0L)).as("n_tied"),
          sum(when(col("maj") =!= col("f"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(expr("maxc * 1000000 div n")).as("support_sum"))
        .withColumn("mean_support_fp",
          expr("support_sum div n_tasks"))
        .select("n_tasks", "n_unanimous", "n_tied", "n_changed",
          "mean_support_fp")
    },

    // ---- length-controlled win rate (the AlpacaEval-2 move): source
    //      src0 vs src1, docs paired by RANK WITHIN A LENGTH BUCKET so
    //      every comparison is between like-sized responses; the
    //      report carries per-bucket win rates plus two aggregate
    //      rows — the raw pooled rate (bucket −1) and the
    //      equal-bucket-weight rate (bucket −2). The gap between the
    //      two IS the length bias: a verbosity-favoring scorer (TTR
    //      falls with length) makes the pooled rate drift wherever the
    //      corpus's length mix leans, while the controlled rate holds
    //      the mix fixed.
    QueryDef.checked(
      "q_length_controlled_winrate", {
        val bucket =
          """CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
            |     WHEN n_chars < 600 THEN 2 ELSE 3 END""".stripMargin
        s"""WITH d AS (
           |  SELECT source, $bucket AS bucket, doc_id,
           |    $TtrDuck AS score,
           |    row_number() OVER (PARTITION BY source,
           |      ($bucket) ORDER BY doc_id) AS rk
           |  FROM documents WHERE source IN ('src0', 'src1')
           |), pairs AS (
           |  SELECT a.bucket,
           |    CASE WHEN a.score > b.score THEN 1 ELSE 0 END AS win_a,
           |    CASE WHEN a.score = b.score THEN 1 ELSE 0 END AS tie
           |  FROM d a JOIN d b
           |    ON b.bucket = a.bucket AND b.rk = a.rk
           |    AND a.source = 'src0' AND b.source = 'src1'
           |), per AS (
           |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(win_a) AS BIGINT) AS wins_a,
           |    CAST(sum(tie) AS BIGINT) AS ties,
           |    CAST(sum(win_a) * 1000000 // count(*) AS BIGINT)
           |      AS winrate_fp
           |  FROM pairs GROUP BY bucket
           |)
           |SELECT * FROM per
           |UNION ALL
           |SELECT -1, CAST(sum(n_pairs) AS BIGINT),
           |  CAST(sum(wins_a) AS BIGINT), CAST(sum(ties) AS BIGINT),
           |  CAST(sum(wins_a) * 1000000 // sum(n_pairs) AS BIGINT)
           |FROM per
           |UNION ALL
           |SELECT -2, CAST(sum(n_pairs) AS BIGINT),
           |  CAST(sum(wins_a) AS BIGINT), CAST(sum(ties) AS BIGINT),
           |  CAST(sum(winrate_fp) // count(*) AS BIGINT)
           |FROM per
           |ORDER BY bucket""".stripMargin
      }) { (spark, dir) =>
      val bucket = expr(
        """CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
          |     WHEN n_chars < 600 THEN 2 ELSE 3 END""".stripMargin)
      val d0 = Tables(spark, dir).documents
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), bucket.as("bucket"), col("doc_id"),
          expr(TtrSpark).as("score"))
      // per-(source, bucket) rank WITHOUT a per-group window: only 8
      // groups exist, so window partitions would be corpus/8-sized —
      // the near-global shape the suite migrates to RangeRank. Groups
      // are contiguous in the (source, bucket, doc_id) total order, so
      // group rank = global range-rank − the group's min rank + 1
      // (an 8-row broadcast).
      val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val granked = graft.util.RangeRank.withGlobalRank(d0, "__g", nPart,
        col("source"), col("bucket"), col("doc_id"))
      val base = granked.groupBy("source", "bucket")
        .agg(min(col("__g")).as("__g0"))
      val d = granked.join(broadcast(base), Seq("source", "bucket"))
        .withColumn("rk", (col("__g") - col("__g0") + 1L).cast("int"))
        .drop("__g", "__g0")
      val a = d.filter(col("source") === "src0")
        .select(col("bucket"), col("rk"), col("score").as("sa"))
      val b = d.filter(col("source") === "src1")
        .select(col("bucket"), col("rk"), col("score").as("sb"))
      val per = a.join(b, Seq("bucket", "rk"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") > col("sb"), 1L).otherwise(0L)).as("wins_a"),
          sum(when(col("sa") === col("sb"), 1L).otherwise(0L)).as("ties"))
        .withColumn("winrate_fp",
          expr("wins_a * 1000000 div n_pairs"))
        .transform(localCheckpoint) // 4 rows; feeds both aggregate variants
      val raw = per.agg(sum("n_pairs").as("n_pairs"),
          sum("wins_a").as("wins_a"), sum("ties").as("ties"))
        .withColumn("winrate_fp", expr("wins_a * 1000000 div n_pairs"))
        .select(lit(-1).cast("int").as("bucket"), col("n_pairs"),
          col("wins_a"), col("ties"), col("winrate_fp"))
      val lc = per.agg(sum("n_pairs").as("n_pairs"),
          sum("wins_a").as("wins_a"), sum("ties").as("ties"),
          expr("sum(winrate_fp) div count(*)").as("winrate_fp"))
        .select(lit(-2).cast("int").as("bucket"), col("n_pairs"),
          col("wins_a"), col("ties"), col("winrate_fp"))
      per.select(col("bucket").cast("int"), col("n_pairs"),
          col("wins_a"), col("ties"), col("winrate_fp"))
        .unionByName(raw).unionByName(lc)
        .orderBy("bucket")
    },

    // ---- paired bootstrap: is scorer A (TTR) actually better than
    //      scorer B (distinct-bigram ratio) on this corpus? The PAIRED
    //      design bootstraps the per-doc DELTA (the variance of the
    //      difference, not the difference of variances), with 32
    //      Poisson replicas whose weights derive from md5(doc, j) —
    //      the q_bootstrap_ci resampling scheme, so both engines
    //      replay identical replicas. Report: exact mean delta,
    //      replica-rank CI bounds, and the fraction of replicas where
    //      A wins — the "bootstrap p-value" an eval dashboard shows.
    QueryDef.checked(
      "q_paired_bootstrap", {
        s"""WITH base AS (
           |  SELECT doc_id, ($TtrDuck) - ($BigDuck) AS delta
           |  FROM documents
           |), weighted AS (
           |  SELECT j AS replica,
           |    CASE
           |      WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
           |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
           |      WHEN u < 996340 THEN 4 ELSE 5 END AS w,
           |    delta
           |  FROM (
           |    SELECT b.doc_id, b.delta, t.j,
           |      CAST(concat('0x', substring(md5(concat(
           |        CAST(b.doc_id AS VARCHAR), '_', CAST(t.j AS VARCHAR))),
           |        1, 15)) AS BIGINT) % 1000000 AS u
           |    FROM base b, range(32) t(j)) s
           |), means AS (
           |  SELECT replica,
           |    CAST(sum(CAST(w AS BIGINT) * delta) AS BIGINT) * 1000000
           |      // CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS m
           |  FROM weighted GROUP BY replica
           |), ranked AS (
           |  SELECT m, row_number() OVER (ORDER BY m, replica) AS rn
           |  FROM means
           |)
           |SELECT CAST(32 AS BIGINT) AS n_replicas,
           |  (SELECT CAST(sum(delta) * 1000000 // count(*) AS BIGINT)
           |   FROM base) AS mean_delta_ppm,
           |  (SELECT CAST(m AS BIGINT) FROM ranked WHERE rn = 2)
           |    AS ci_lo_ppm,
           |  (SELECT CAST(m AS BIGINT) FROM ranked WHERE rn = 31)
           |    AS ci_hi_ppm,
           |  (SELECT CAST(count(*) FILTER (WHERE m > 0) * 1000000 // 32
           |     AS BIGINT) FROM means) AS frac_a_wins_fp""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables(spark, dir).documents
        .select(col("doc_id"),
          (expr(TtrSpark) - expr(BigSpark)).as("delta"))
      val weighted = base
        .crossJoin(broadcast(spark.range(32).toDF("j")))
        .withColumn("u",
          (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("_"), col("j").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 1000000L))
        .withColumn("w", expr(
          """CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
            |     WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
            |     WHEN u < 996340 THEN 4 ELSE 5 END""".stripMargin))
      val means = weighted.groupBy(col("j").as("replica"))
        .agg(expr("sum(CAST(w AS BIGINT) * delta)").as("sw"),
          expr("sum(CAST(w AS BIGINT))").as("tw"))
        .select(col("replica"), expr("sw * 1000000 div tw").as("m"))
        .transform(localCheckpoint) // 32 rows; feeds ranks + win fraction
      // global window over EXACTLY 32 rows (one per replica — constant
      // at any corpus size; the q_bootstrap_ci bound): allowlisted in
      // SinglePartitionSweepSpec
      val ranked = means.withColumn("rn",
        row_number().over(Window.orderBy(col("m"), col("replica"))))
      val mid = base.agg(
        expr("CAST(sum(delta) * 1000000 div count(*) AS BIGINT)")
          .as("mean_delta_ppm"))
      val lo = ranked.filter(col("rn") === 2)
        .select(col("m").cast("long").as("ci_lo_ppm"))
      val hi = ranked.filter(col("rn") === 31)
        .select(col("m").cast("long").as("ci_hi_ppm"))
      val fw = means.agg(
        expr("CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) * 1000000" +
          " div 32 AS BIGINT)").as("frac_a_wins_fp"))
      mid.crossJoin(lo).crossJoin(hi).crossJoin(fw)
        .select(lit(32L).as("n_replicas"), col("mean_delta_ppm"),
          col("ci_lo_ppm"), col("ci_hi_ppm"), col("frac_a_wins_fp"))
    }
  )
}
