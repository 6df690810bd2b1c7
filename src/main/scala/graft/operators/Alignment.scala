package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Alignment-data construction: the operators that turn scored corpora
  * and event logs into preference-training inputs — DPO chosen/rejected
  * pairs, best-of-n lift curves, pairwise win-rate matrices, and KTO
  * class-balance weights.
  *
  * The deterministic stand-in for a learned reward is the type-token
  * ratio in 1e-6 fixed point (distinct tokens ÷ tokens) — pure integer
  * arithmetic both engines evaluate identically; a real deployment
  * swaps in a model-scored column and every operator below is
  * unchanged.
  *
  * Scale stance (100 TB):
  *   - Groups ("prompts") come from a key hash, so pair construction is
  *     one keyed shuffle; the argmax/argmin per group is a window over
  *     a BOUNDED candidate set (candidates-per-prompt, not corpus).
  *   - The win-rate matrix never does an all-pairs join: docs meet in
  *     content-hash buckets (bounded occupancy, the LSH-band pattern)
  *     and the matrix itself is |sources|² rows.
  *   - Best-of-n reduces the event log to per-user 1-row aggregates in
  *     one pass (max + sum + count are all mergeable partials), then
  *     buckets users by n — the output is |n-buckets| rows.
  */
object Alignment {

  /** 1e-6 fixed-point type-token ratio — the deterministic "reward". */
  private val sparkScore =
    "size(array_distinct(split(text, ' '))) * 1000000 div size(split(text, ' '))"
  private val duckScore =
    "len(list_distinct(string_split(text, ' '))) * 1000000 // len(string_split(text, ' '))"

  /** 60-bit md5 key hash, non-negative — reproducible in DuckDB. */
  private def duckKeyHash(e: String) =
    s"CAST(concat('0x', substring(md5(CAST($e AS VARCHAR)), 1, 15)) AS BIGINT)"

  private def scored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      Dedup.md5h64(col("doc_id").cast("string")).as("kh"),
      expr(sparkScore).as("score_fp"))

  private val duckScored =
    s"""SELECT doc_id, source, ${duckKeyHash("doc_id")} AS kh,
       |  $duckScore AS score_fp FROM documents""".stripMargin

  /** pass@k k values: exact 64-bit falling factorials at this
    * fixture's n ≤ 86 samples per task (perm(86, 8) ≈ 2.6e15, and the
    * corpus-wide sums stay far below Long range even at 100× tasks). */
  private val PassKs = Seq(1, 4, 8)

  /** Falling factorial perm(a, k) = a·(a−1)·…·(a−k+1), clamped so
    * a < k yields 0 — exactly the "no all-incorrect k-subset exists"
    * case where pass@k is certainly 1. Integer-exact, unrolled per k. */
  private def perm(a: org.apache.spark.sql.Column, k: Int) =
    (0 until k).map(j => greatest(a - lit(j.toLong), lit(0L)))
      .reduce(_ * _)

  private def permSql(a: String, k: Int): String =
    (0 until k).map(j => s"greatest($a - $j, CAST(0 AS BIGINT))")
      .mkString(" * ")

  val defs: Seq[QueryDef] = Seq(

    // ---- unbiased pass@k sufficient statistics: per task (user), n
    //      samples of which c are correct; the Chen-et-al. estimator
    //      pass@k = 1 − C(n−c,k)/C(n,k) = 1 − perm(n−c,k)/perm(n,k).
    //      Per-k output carries the EXACT integer sufficient
    //      statistics — Σ perm(n−c,k), Σ perm(n,k), the task count,
    //      and the certainly-solved count (perm(n−c,k) = 0 ⇔ fewer
    //      than k incorrect samples exist) — instead of a float mean,
    //      because a cross-task mean of rationals has no
    //      order-independent IEEE form and this engine's parity
    //      discipline forbids order-dependent double sums. One
    //      mergeable aggregate pass over the completion log per k;
    //      the falling factorials are integer products inside codegen.
    QueryDef.checked(
      "q_pass_at_k", {
        val per =
          """per_u AS (
            |  SELECT user_id, count(*) AS n,
            |    count(*) FILTER (WHERE event_type = 'click'
            |      AND CAST(round(value * 100) AS BIGINT) >= 5000) AS c
            |  FROM events GROUP BY user_id
            |)""".stripMargin
        val arms = PassKs.map { k =>
          s"""SELECT CAST($k AS BIGINT) AS k,
             |  CAST(count(*) AS BIGINT) AS n_tasks,
             |  CAST(count(*) FILTER (WHERE ${permSql("n - c", k)} = 0)
             |    AS BIGINT) AS n_certain,
             |  CAST(sum(CAST(${permSql("n - c", k)} AS DECIMAL(38,0)))
             |    AS VARCHAR) AS sum_keep,
             |  CAST(sum(CAST(${permSql("n", k)} AS DECIMAL(38,0)))
             |    AS VARCHAR) AS sum_all
             |FROM per_u WHERE n >= $k""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH $per\n$arms\nORDER BY k"
      }) { (spark, dir) =>
      val cents = expr("CAST(round(value * 100) AS BIGINT)")
      val per = Tables(spark, dir).events
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "click" && cents >= 5000L, 1L)
            .otherwise(0L)).as("c"))
        .transform(localCheckpoint) // one log pass feeds all three k arms
      PassKs.map { k =>
        per.filter(col("n") >= k).agg(
          count(lit(1)).as("n_tasks"),
          sum(when(perm(col("n") - col("c"), k) === 0L, 1L).otherwise(0L))
            .as("n_certain"),
          // Emitted as DECIMAL(38,0)→string: the sums exceed 2^53
          // (sum_all@k=8 ≈ 6e16 at sf0.1), the float64-exact bound of
          // the driver's hash canonicalization — the digit string is
          // value-identical in both engines and hash-stable.
          sum(perm(col("n") - col("c"), k)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("string").as("sum_keep"),
          sum(perm(col("n"), k)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("string").as("sum_all"))
          .select(lit(k.toLong).as("k"), col("n_tasks"),
            col("n_certain"), col("sum_keep"), col("sum_all"))
      }.reduce(_ unionByName _).orderBy("k")
    },

    // ---- DPO pair construction: hash documents into 50 prompt groups,
    //      emit (chosen, rejected) = (arg-max, arg-min) score per group
    //      with doc_id tie-breaks, plus the preference margin the DPO
    //      loss trains on. Two rank windows over bounded groups; groups
    //      with one candidate produce no pair (chosen == rejected row is
    //      filtered, matching how pair builders drop singleton prompts).
    QueryDef.checked(
      "q_dpo_pairs",
      s"""WITH s AS ($duckScored),
         |g AS (SELECT doc_id, kh % 50 AS group_id, score_fp FROM s),
         |rk AS (
         |  SELECT group_id, doc_id, score_fp,
         |    row_number() OVER (PARTITION BY group_id
         |      ORDER BY score_fp DESC, doc_id) AS rbest,
         |    row_number() OVER (PARTITION BY group_id
         |      ORDER BY score_fp ASC, doc_id DESC) AS rworst,
         |    count(*) OVER (PARTITION BY group_id) AS n_cands
         |  FROM g
         |)
         |SELECT b.group_id, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
         |  b.score_fp - w.score_fp AS margin_fp,
         |  CAST(b.n_cands AS BIGINT) AS n_cands
         |FROM (SELECT * FROM rk WHERE rbest = 1) b
         |JOIN (SELECT * FROM rk WHERE rworst = 1) w USING (group_id)
         |WHERE b.doc_id <> w.doc_id
         |ORDER BY group_id""".stripMargin) { (spark, dir) =>
      val g = scored(Tables(spark, dir).documents)
        .select(col("doc_id"), (col("kh") % 50).as("group_id"),
          col("score_fp"))
      val rk = g
        .withColumn("rbest", row_number().over(Window.partitionBy("group_id")
          .orderBy(col("score_fp").desc, col("doc_id"))))
        .withColumn("rworst", row_number().over(Window.partitionBy("group_id")
          .orderBy(col("score_fp").asc, col("doc_id").desc)))
        .withColumn("n_cands", count(lit(1)).over(Window.partitionBy("group_id")))
        .transform(localCheckpoint) // best and worst sides of the pair join
      rk.filter(col("rbest") === 1)
        .select(col("group_id"), col("doc_id").as("chosen_id"),
          col("score_fp").as("sb"), col("n_cands"))
        .join(rk.filter(col("rworst") === 1)
          .select(col("group_id"), col("doc_id").as("rejected_id"),
            col("score_fp").as("sw")), Seq("group_id"))
        .filter(col("chosen_id") =!= col("rejected_id"))
        .select(col("group_id"), col("chosen_id"), col("rejected_id"),
          (col("sb") - col("sw")).as("margin_fp"), col("n_cands"))
        .orderBy("group_id")
    },

    // ---- best-of-n lift curve: per (user, event type) — the "prompt"
    //      — the gap between the best candidate value and the mean,
    //      bucketed by candidate count n: the curve that says how much
    //      selection pressure n samples buy. Cents fixed point end to
    //      end; the per-prompt reduction is one mergeable aggregate
    //      pass over the log.
    QueryDef.checked(
      "q_best_of_n",
      """WITH per_user AS (
        |  SELECT user_id, event_type, count(*) AS n,
        |    max(CAST(round(value * 100) AS BIGINT)) AS best_cents,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
        |  FROM events GROUP BY user_id, event_type
        |), lifted AS (
        |  SELECT CASE WHEN n >= 8 THEN 8 ELSE n END AS n_bucket,
        |    -- sign-factored: truncating division under either `//`
        |    -- semantics, matching Spark `div` (cents can go negative
        |    -- if the fixture ever gains refund-like values)
        |    best_cents - ((abs(sum_cents) // n) * sign(sum_cents)) AS lift_cents
        |  FROM per_user
        |)
        |SELECT CAST(n_bucket AS BIGINT) AS n_bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(lift_cents) AS BIGINT) AS total_lift_cents,
        |  round(CAST(sum(lift_cents) AS DOUBLE) / count(*), 6) AS avg_lift_cents
        |FROM lifted GROUP BY n_bucket
        |ORDER BY n_bucket""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), max(col("cents")).as("best_cents"),
          sum(col("cents")).as("sum_cents"))
        .select(
          when(col("n") >= 8, lit(8L)).otherwise(col("n")).as("n_bucket"),
          (col("best_cents") - expr("sum_cents div n")).as("lift_cents"))
        .groupBy("n_bucket")
        .agg(count(lit(1)).as("n_users"),
          sum(col("lift_cents")).as("total_lift_cents"),
          round(sum(col("lift_cents")).cast("double") / count(lit(1)), 6)
            .as("avg_lift_cents"))
        .orderBy("n_bucket")
    },

    // ---- pairwise win-rate matrix between sources: documents meet in
    //      100 content-hash buckets (bounded occupancy — the LSH-band
    //      join shape, never all-pairs), every cross-source pair in a
    //      bucket is one comparison, and the matrix aggregates wins by
    //      (source_a < source_b). Ties split nowhere: strict inequality
    //      counts a win for A, equality counts for neither, and both
    //      are reported so rates reconstruct exactly.
    QueryDef.checked(
      "q_pref_win_matrix",
      s"""WITH s AS ($duckScored),
         |b AS (SELECT doc_id, source, kh % 100 AS bucket, score_fp FROM s)
         |SELECT a.source AS source_a, c.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a.score_fp > c.score_fp THEN 1 ELSE 0 END)
         |    AS BIGINT) AS wins_a,
         |  CAST(sum(CASE WHEN a.score_fp = c.score_fp THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ties,
         |  round(CAST(sum(CASE WHEN a.score_fp > c.score_fp THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS win_rate_a
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.source < c.source
         |GROUP BY a.source, c.source
         |ORDER BY a.source, c.source""".stripMargin) { (spark, dir) =>
      val b = scored(Tables(spark, dir).documents)
        .select(col("doc_id"), col("source"), (col("kh") % 100).as("bucket"),
          col("score_fp"))
        .transform(localCheckpoint) // both sides of the bucket self-join
      b.select(col("bucket"), col("source").as("source_a"),
          col("score_fp").as("sa"))
        .join(b.select(col("bucket"), col("source").as("source_b"),
          col("score_fp").as("sb")), Seq("bucket"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") > col("sb"), 1L).otherwise(0L)).as("wins_a"),
          sum(when(col("sa") === col("sb"), 1L).otherwise(0L)).as("ties"),
          round(sum(when(col("sa") > col("sb"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("win_rate_a"))
        .orderBy("source_a", "source_b")
    },

    // ---- discounted episode returns: each user's event stream is an
    //      RLHF-style trajectory (steps ordered by time, reward = event
    //      value in cents); the return is Σ r_t·γ^t with γ = 0.9 over
    //      the first 20 steps. The discount table is PRECOMPUTED 1e-9
    //      fixed-point integers injected into both engines — the sum is
    //      pure integer arithmetic, immune to libm pow() ulp drift (the
    //      q_retrieval_metrics discount-table discipline). The step
    //      window partitions by episode (bounded per-entity), never the
    //      corpus; truncation at 20 steps is the documented horizon.
    QueryDef.checked(
      "q_episode_returns", {
        val disc = Seq.tabulate(20)(t => math.round(math.pow(0.9, t) * 1e9))
        val caseSql = disc.zipWithIndex
          .map { case (d, t) => s"WHEN $t THEN $d" }
          .mkString("CASE t ", " ", " ELSE 0 END")
        s"""WITH steps AS (
           |  SELECT user_id,
           |    CAST(row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) - 1 AS INTEGER) AS t,
           |    CAST(round(value * 100) AS BIGINT) AS r_cents
           |  FROM events
           |)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
           |  CAST(sum(r_cents) AS BIGINT) AS raw_cents,
           |  CAST(sum(r_cents * ($caseSql)) AS BIGINT) AS return_fp
           |FROM steps GROUP BY user_id
           |ORDER BY user_id""".stripMargin
      }) { (spark, dir) =>
      val disc = Seq.tabulate(20)(t => math.round(math.pow(0.9, t) * 1e9))
      val caseSql = disc.zipWithIndex
        .map { case (d, t) => s"WHEN $t THEN ${d}L" }
        .mkString("CASE t ", " ", " ELSE 0L END")
      Tables(spark, dir).events
        .select(col("user_id"),
          (row_number().over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")) - 1).as("t"),
          expr("CAST(round(value * 100) AS BIGINT)").as("r_cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum(col("r_cents")).as("raw_cents"),
          sum(col("r_cents") * expr(caseSql)).as("return_fp"))
        .orderBy("user_id")
    },

    // ---- KTO label construction: binary desirable/undesirable per
    //      document from a fixed reward threshold, with the per-source
    //      class-imbalance weight (the λ_U/λ_D ratio KTO applies to the
    //      minority class) in 1e-6 fixed point. One pass, |sources| rows.
    QueryDef.checked(
      "q_kto_labels",
      s"""WITH s AS ($duckScored)
         |SELECT source,
         |  CAST(sum(CASE WHEN score_fp >= 900000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_desirable,
         |  CAST(sum(CASE WHEN score_fp < 900000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_undesirable,
         |  CAST(sum(CASE WHEN score_fp < 900000 THEN 1 ELSE 0 END) * 1000000
         |    // (CASE WHEN sum(CASE WHEN score_fp >= 900000 THEN 1 ELSE 0 END) > 0
         |        THEN sum(CASE WHEN score_fp >= 900000 THEN 1 ELSE 0 END)
         |        ELSE 1 END) AS BIGINT) AS pos_weight_fp
         |FROM s GROUP BY source
         |ORDER BY source""".stripMargin) { (spark, dir) =>
      scored(Tables(spark, dir).documents)
        .select(col("source"),
          (col("score_fp") >= 900000L).cast("long").as("pos"))
        .groupBy("source")
        .agg(sum(col("pos")).as("n_desirable"),
          sum(lit(1L) - col("pos")).as("n_undesirable"))
        .select(col("source"), col("n_desirable"), col("n_undesirable"),
          expr("n_undesirable * 1000000 div (CASE WHEN n_desirable > 0 THEN n_desirable ELSE 1 END)")
            .as("pos_weight_fp"))
        .orderBy("source")
    }
  )
}
