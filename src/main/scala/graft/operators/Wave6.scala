package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.util.RangeRank

/** Round-6 additions: link prediction (resource-allocation index),
  * exact permutation testing, jackknife and leave-one-source-out
  * ablation, batch-padding efficiency, temperature-based language
  * sampling, variance-homogeneity and single-outlier tests, tail risk
  * (VaR/ES by exact order statistic), static BPE-merge application,
  * pinball-loss quantile screening, and KV-cache capacity planning —
  * each a standard large-pipeline operation re-expressed as bounded
  * Spark dataflow with an integer/IEEE-exact oracle contract (the
  * repo's order-proof discipline: integer fixed-point where sums
  * cross partition boundaries, DECIMAL summation for true-double
  * addends, correctly-rounded IEEE ops — sqrt, a single division —
  * where both engines are bit-identical by spec).
  */
object Wave6 {

  val defs: Seq[QueryDef] = Seq(

    // ---- link prediction by resource-allocation index: for supplier
    //      pairs sharing customers, RA(s1,s2) = Σ_{c ∈ N(s1)∩N(s2)}
    //      1/deg(c) — the common-neighbor score that down-weights hub
    //      neighbors (Zhou et al. 2009; Adamic-Adar's 1/log with 1/x,
    //      chosen here because 1/x is exact in integer fixed-point
    //      while log parity across libms is not guaranteed). Scale:
    //      the candidate generator is the self-join on the shared
    //      customer — Σ_c deg(c)² pairs, the standard bound — so hubs
    //      above a degree cap (30) are dropped FIRST: they contribute
    //      ≤ 1/30 each to the score yet dominate the pair count (the
    //      classic common-neighbor skew guard). Measured: the cap cuts
    //      Σd² from 1.71M → 0.35M at sf0.01 and 25.7M → 2.3M at sf0.1
    //      — without it the candidate set grew 15× per 10× corpus
    //      (mean degree itself grows with SF); with it ~6.6×. Top-20
    //      by exact ties.
    QueryDef.checked(
      "q_resource_allocation",
      """WITH pairs0 AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), deg AS (
        |  SELECT c, count(*) AS d FROM pairs0 GROUP BY c
        |), p AS (
        |  -- hub-degree cap: customers with > 30 distinct suppliers are
        |  -- dropped before the quadratic self-join
        |  SELECT pairs0.s, pairs0.c, deg.d
        |  FROM pairs0 JOIN deg ON deg.c = pairs0.c
        |  WHERE deg.d <= 30
        |), cand AS (
        |  SELECT a.s AS s1, b.s AS s2, a.d AS d
        |  FROM p a JOIN p b ON b.c = a.c AND b.s > a.s
        |), sc AS (
        |  SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(1000000000000 // d) AS BIGINT) AS ra_fp
        |  FROM cand
        |  GROUP BY s1, s2
        |)
        |SELECT s1, s2, n_common, ra_fp
        |FROM sc ORDER BY ra_fp DESC, s1, s2 LIMIT 20""".stripMargin) {
      (spark, dir) =>
      val t = Tables(spark, dir)
      val pairs = Tables.spread(
          t.lineitem.select(col("l_orderkey"), col("l_suppkey")))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
        .transform(localCheckpoint) // feeds deg + both self-join sides
      val deg = pairs.groupBy("c").agg(count(lit(1)).as("d"))
      // the cap (see oracle comment) lands BEFORE the self-join, so the
      // d² blow-up never materializes; d rides along — no re-join
      val p = pairs.join(deg.filter(col("d") <= 30), Seq("c"))
        .transform(localCheckpoint) // both self-join sides
      p.select(col("s").as("s1"), col("c"), col("d"))
        .join(p.select(col("s").as("s2"), col("c").as("c2")),
          col("c2") === col("c") && col("s2") > col("s1"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000000000 div d")).cast("long").as("ra_fp"))
        .orderBy(col("ra_fp").desc, col("s1"), col("s2"))
        .limit(20)
    },

    // ---- exact permutation test: does mean supplier balance differ
    //      between nation blocs? 199 deterministic permutations via a
    //      shared LCG on (s_suppkey, k) — both engines replay the SAME
    //      label shuffle, so the whole test is integer arithmetic and
    //      the p-value is an exact rational. The statistic is the
    //      cross-multiplied mean difference s1·n0 − s0·n1 (no
    //      division → no floats). Scale: the permutation axis is a
    //      199-row broadcast exploded against the fact scan — one
    //      shuffle on k, partial aggregation does the heavy lifting;
    //      199×|rows| never materializes.
    QueryDef.checked(
      "q_permutation_test",
      """WITH s AS (
        |  SELECT s_suppkey AS id,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS cents,
        |    CASE WHEN s_nationkey < 12 THEN 1 ELSE 0 END AS g
        |  FROM supplier
        |), obs AS (
        |  SELECT sum(CASE WHEN g = 1 THEN cents ELSE 0 END)
        |      * sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN g = 0 THEN cents ELSE 0 END)
        |      * sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS t_obs
        |  FROM s
        |), perms AS (
        |  SELECT k, sum(CASE WHEN pg = 1 THEN cents ELSE 0 END)
        |      * sum(CASE WHEN pg = 0 THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN pg = 0 THEN cents ELSE 0 END)
        |      * sum(CASE WHEN pg = 1 THEN 1 ELSE 0 END) AS t_k
        |  FROM (
        |    SELECT s.cents, t.k,
        |      CAST(((s.id + t.k) * 2654435761 % 1000) < 500 AS INT) AS pg
        |    FROM s, generate_series(1, 199) t(k))
        |  GROUP BY k
        |)
        |SELECT CAST(t_obs AS BIGINT) AS t_obs,
        |  CAST(199 AS BIGINT) AS n_perms,
        |  CAST(count(*) FILTER (WHERE abs(t_k) >= abs(t_obs)) AS BIGINT)
        |    AS n_extreme,
        |  round((1.0 + count(*) FILTER (WHERE abs(t_k) >= abs(t_obs)))
        |    / 200.0, 6) AS p_value
        |FROM perms, obs
        |GROUP BY t_obs""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).supplier.select(
        col("s_suppkey").as("id"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("cents"),
        when(col("s_nationkey") < 12, 1).otherwise(0).as("g"))
      def stat(df: org.apache.spark.sql.DataFrame, grp: String,
          by: Seq[String]) = {
        val a = df.groupBy(by.map(col): _*)
          .agg(sum(when(col(grp) === 1, col("cents")).otherwise(0L)).as("s1"),
            sum(when(col(grp) === 0, col("cents")).otherwise(0L)).as("s0"),
            sum(when(col(grp) === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col(grp) === 0, 1L).otherwise(0L)).as("n0"))
        a.withColumn("t", col("s1") * col("n0") - col("s0") * col("n1"))
      }
      val tObs = stat(s, "g", Seq.empty).select(col("t").as("t_obs"))
      // (id + k) * 2654435761 stays exact in int64 for id+k ≤ ~3.5e9 —
      // far above any supplier count; the LCG constant is Knuth's
      val perms = s.crossJoin(broadcast(
          spark.range(1, 200).toDF("k")))
        .withColumn("pg",
          (((col("id") + col("k")) * 2654435761L) % 1000 < 500).cast("int"))
      stat(perms, "pg", Seq("k"))
        .crossJoin(broadcast(tObs))
        .agg(first(col("t_obs")).as("t_obs"),
          lit(199L).as("n_perms"),
          sum(when(abs(col("t")) >= abs(col("t_obs")), 1L).otherwise(0L))
            .as("n_extreme"))
        .select(col("t_obs"), col("n_perms"), col("n_extreme"),
          round((lit(1.0) + col("n_extreme")) / lit(200.0), 6).as("p_value"))
    },

    // ---- jackknife (leave-one-group-out) variance of the mean order
    //      value: delete-a-group estimates from GROUP TOTALS only —
    //      θ̂₍ᵢ₎ = (S − sᵢ)/(N − nᵢ) needs one aggregate pass plus
    //      |groups| rows of arithmetic, the classic algebraic shortcut
    //      that makes jackknifing free at any scale (no re-scan per
    //      leave-out). Everything is milli-cent fixed point: devs are
    //      bounded (≤ ~1e7), so squares stay far from int64 overflow.
    QueryDef.checked(
      "q_jackknife_variance",
      """WITH g AS (
        |  SELECT o_orderpriority AS grp, count(*) AS n_i,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_i
        |  FROM orders GROUP BY o_orderpriority
        |), tot AS (
        |  SELECT sum(n_i) AS n, sum(s_i) AS s, count(*) AS n_groups FROM g
        |), loo AS (
        |  SELECT grp, n_i, (s - s_i) * 1000 // (n - n_i) AS theta_fp,
        |    n_groups
        |  FROM g, tot
        |), ctr AS (
        |  SELECT sum(theta_fp) // max(n_groups) AS theta_bar_fp FROM loo
        |)
        |SELECT grp, CAST(n_i AS BIGINT) AS n_excluded,
        |  CAST(theta_fp AS BIGINT) AS theta_loo_fp,
        |  CAST(theta_fp - theta_bar_fp AS BIGINT) AS dev_fp,
        |  CAST((SELECT (max(n_groups) - 1)
        |      * sum((theta_fp - theta_bar_fp) * (theta_fp - theta_bar_fp))
        |      // max(n_groups) FROM loo, ctr) AS VARCHAR) AS jk_var_fp
        |FROM loo, ctr
        |ORDER BY grp""".stripMargin) { (spark, dir) =>
      val g = Tables(spark, dir).orders
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n_i"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("s_i"))
        .transform(localCheckpoint) // 5 rows; feeds totals + the loo projection
      val tot = g.agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("s"),
        count(lit(1)).as("n_groups"))
      val loo = g.crossJoin(broadcast(tot))
        .withColumn("theta_fp",
          expr("(s - s_i) * 1000 div (n - n_i)"))
      val ctr = loo.agg(
        expr("sum(theta_fp) div max(n_groups)").as("theta_bar_fp"))
      val dev = loo.crossJoin(broadcast(ctr))
        .withColumn("dev_fp", col("theta_fp") - col("theta_bar_fp"))
      val jkVar = dev.agg(expr(
        "(max(n_groups) - 1) * sum(dev_fp * dev_fp) div max(n_groups)")
        .as("jk_var_fp"))
      dev.crossJoin(broadcast(jkVar))
        .select(col("grp"), col("n_i").cast("long").as("n_excluded"),
          col("theta_fp").cast("long").as("theta_loo_fp"),
          col("dev_fp").cast("long").as("dev_fp"),
          // ≈2e16 at sf0.01 — above the driver hash's 2^53-exact
          // domain, so it ships as a digit string (the r9 fleet rule)
          col("jk_var_fp").cast("long").cast("string").as("jk_var_fp"))
        .orderBy("grp")
    },

    // ---- batch-padding efficiency: fixed-size-32 batches padded to
    //      the batch max length, arrival order vs length-sorted order
    //      — THE measurement behind length-bucketed batching (padding
    //      is wasted FLOPs; sorting by length is the standard fix, and
    //      this query prices the win). Both global orderings go
    //      through RangeRank (range exchange + per-partition sort) —
    //      no single-partition window anywhere, so the plan survives a
    //      corpus-sized documents table.
    QueryDef.checked(
      "q_padding_waste",
      """WITH d AS (
        |  SELECT doc_id, (n_chars + 3) // 4 AS tok FROM documents
        |), arrival AS (
        |  SELECT tok, (row_number() OVER (ORDER BY doc_id) - 1) // 32
        |    AS batch FROM d
        |), sorted_o AS (
        |  SELECT tok, (row_number() OVER (ORDER BY tok, doc_id) - 1) // 32
        |    AS batch FROM d
        |), pick AS (
        |  SELECT 'arrival' AS strategy, batch, count(*) AS bsz,
        |    max(tok) AS mx, sum(tok) AS st FROM arrival GROUP BY batch
        |  UNION ALL
        |  SELECT 'sorted', batch, count(*), max(tok), sum(tok)
        |  FROM sorted_o GROUP BY batch
        |)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(st) AS BIGINT) AS total_tokens,
        |  CAST(sum(mx * bsz) AS BIGINT) AS padded_tokens,
        |  CAST((sum(mx * bsz) - sum(st)) * 1000000 // sum(mx * bsz)
        |    AS BIGINT) AS waste_ppm
        |FROM pick GROUP BY strategy ORDER BY strategy""".stripMargin) {
      (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), expr("(n_chars + 3) div 4").as("tok"))
      def batched(keys: Seq[org.apache.spark.sql.Column], name: String) = {
        val ranked = RangeRank.withGlobalRank(d, "rn", 8, keys: _*)
        ranked.withColumn("batch", expr("(rn - 1) div 32"))
          .groupBy("batch")
          .agg(count(lit(1)).as("bsz"), max(col("tok")).as("mx"),
            sum(col("tok")).as("st"))
          .withColumn("strategy", lit(name))
      }
      batched(Seq(col("doc_id")), "arrival")
        .unionByName(batched(Seq(col("tok"), col("doc_id")), "sorted"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("st")).cast("long").as("total_tokens"),
          sum(col("mx") * col("bsz")).cast("long").as("padded_tokens"))
        .withColumn("waste_ppm", expr(
          "(padded_tokens - total_tokens) * 1000000 div padded_tokens"))
        .orderBy("strategy")
    },

    // ---- temperature-based language sampling (α = 0.5): multilingual
    //      mixes upsample low-resource languages by pₗ ∝ nₗ^α — the
    //      UNIMAX/mT5 recipe. α = ½ makes the power a SQRT, the one
    //      transcendental that IEEE 754 requires correctly rounded, so
    //      both engines produce bit-identical weights; the normalizer
    //      sums those identical doubles as DECIMAL(38,18) (exact,
    //      order-proof — the q_whitening_2d discipline). One aggregate
    //      over the corpus + |langs| rows of arithmetic.
    QueryDef.checked(
      "q_temperature_mix",
      """WITH l AS (
        |  SELECT lang, sum((n_chars + 3) // 4) AS n_tok
        |  FROM documents GROUP BY lang
        |), w AS (
        |  SELECT lang, n_tok, sqrt(CAST(n_tok AS DOUBLE)) AS wt FROM l
        |), z AS (
        |  SELECT CAST(sum(CAST(wt AS DECIMAL(38,18))) AS DOUBLE) AS tot
        |  FROM w
        |)
        |SELECT lang, CAST(n_tok AS BIGINT) AS n_tok,
        |  round(wt / tot, 6) AS p_sample,
        |  round(1000000000.0 * (wt / tot) / n_tok, 6) AS expected_epochs
        |FROM w, z ORDER BY lang""".stripMargin) { (spark, dir) =>
      val l = Tables(spark, dir).documents
        .groupBy("lang")
        .agg(sum(expr("(n_chars + 3) div 4")).as("n_tok"))
        .withColumn("wt", sqrt(col("n_tok").cast("double")))
        .transform(localCheckpoint) // |langs| rows; feeds normalizer + projection
      val z = l.agg(
        sum(col("wt").cast("decimal(38,18)")).cast("double").as("tot"))
      l.crossJoin(broadcast(z))
        .select(col("lang"), col("n_tok").cast("long").as("n_tok"),
          round(col("wt") / col("tot"), 6).as("p_sample"),
          round(lit(1000000000.0) * (col("wt") / col("tot")) / col("n_tok"), 6)
            .as("expected_epochs"))
        .orderBy("lang")
    },

    // ---- leave-one-source-out regression: the data-ablation proxy.
    //      Fit chars = a + b·words over the corpus, then re-fit with
    //      each SOURCE deleted — purely by subtracting that source's
    //      moments from the global ones (OLS is moment-algebraic, so
    //      "retrain without source s" is |sources| rows of arithmetic
    //      after ONE corpus pass — the trick that makes source-ablation
    //      screening free at 100 TB; actual influence functions start
    //      from exactly this). Slope deltas rank which source drags the
    //      structural fit. All moments are exact BIGINTs (chars and
    //      words are integers); the two divisions per row are IEEE-
    //      identical on both engines.
    QueryDef.checked(
      "q_loso_regression",
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS y,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |      AS BIGINT) AS x
        |  FROM documents
        |), per AS (
        |  SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM d GROUP BY source
        |), tot AS (
        |  SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
        |    sum(sxy) AS sxy, sum(sxx) AS sxx FROM per
        |), fit AS (
        |  SELECT p.source, t.n - p.n AS n2, t.sx - p.sx AS sx2,
        |    t.sy - p.sy AS sy2, t.sxy - p.sxy AS sxy2,
        |    t.sxx - p.sxx AS sxx2,
        |    CAST(t.n * t.sxy - t.sx * t.sy AS DOUBLE)
        |      / (t.n * t.sxx - t.sx * t.sx) AS b_full
        |  FROM per p, tot t
        |)
        |SELECT source, CAST(n2 AS BIGINT) AS n_kept,
        |  round(CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
        |    / (n2 * sxx2 - sx2 * sx2), 6) AS slope_loo,
        |  round(CAST(sy2 AS DOUBLE) / n2
        |    - CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
        |      / (n2 * sxx2 - sx2 * sx2) * (CAST(sx2 AS DOUBLE) / n2), 6)
        |    AS intercept_loo,
        |  round(CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
        |    / (n2 * sxx2 - sx2 * sx2) - b_full, 6) AS slope_delta
        |FROM fit ORDER BY source""".stripMargin) { (spark, dir) =>
      // moment products stay in int64: at sf0.1 n·Σxy ≈ 6e5 · 9e11 ≈
      // 5e17 < 9.2e18; a 10× bigger corpus would move the moments to
      // DECIMAL(38,0) with the same algebra
      val d = Tables(spark, dir).documents.select(
        col("source"), col("n_chars").cast("long").as("y"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))
          + 1).cast("long").as("x"))
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .transform(localCheckpoint) // |sources| rows; feeds totals + the ablation
      val tot = per.agg(sum("n").as("tn"), sum("sx").as("tsx"),
        sum("sy").as("tsy"), sum("sxy").as("tsxy"), sum("sxx").as("tsxx"))
      per.crossJoin(broadcast(tot))
        .select(col("source"),
          (col("tn") - col("n")).as("n2"), (col("tsx") - col("sx")).as("sx2"),
          (col("tsy") - col("sy")).as("sy2"),
          (col("tsxy") - col("sxy")).as("sxy2"),
          (col("tsxx") - col("sxx")).as("sxx2"),
          ((col("tn") * col("tsxy") - col("tsx") * col("tsy")).cast("double")
            / (col("tn") * col("tsxx") - col("tsx") * col("tsx")))
            .as("b_full"))
        .select(col("source"), col("n2").cast("long").as("n_kept"),
          round((col("n2") * col("sxy2") - col("sx2") * col("sy2"))
            .cast("double")
            / (col("n2") * col("sxx2") - col("sx2") * col("sx2")), 6)
            .as("slope_loo"),
          round(col("sy2").cast("double") / col("n2")
            - (col("n2") * col("sxy2") - col("sx2") * col("sy2"))
              .cast("double")
              / (col("n2") * col("sxx2") - col("sx2") * col("sx2"))
              * (col("sx2").cast("double") / col("n2")), 6)
            .as("intercept_loo"),
          round((col("n2") * col("sxy2") - col("sx2") * col("sy2"))
            .cast("double")
            / (col("n2") * col("sxx2") - col("sx2") * col("sx2"))
            - col("b_full"), 6).as("slope_delta"))
        .orderBy("source")
    },

    // ---- Brown-Forsythe (median-based Levene) test: do event-value
    //      VARIANCES differ across event types? ANOVA's F on the
    //      absolute deviations from each group's median — the robust
    //      homogeneity-of-variance gate run before trusting a pooled-
    //      variance test (q_welch_ttest sidesteps it; this measures
    //      it). Medians interpolate the same two values on both
    //      engines; deviation moments sum in DECIMAL (the round-6
    //      order-proof discipline). Scale: one grouped median pass +
    //      one moments pass with the |groups|-row medians broadcast.
    QueryDef.checked(
      "q_levene_test",
      """WITH med AS (
        |  SELECT event_type, median(value) AS md FROM events
        |  GROUP BY event_type
        |), z AS (
        |  SELECT e.event_type, abs(e.value - m.md) AS z
        |  FROM events e JOIN med m ON m.event_type = e.event_type
        |), g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(z AS DECIMAL(38,12))) AS DOUBLE) AS sz,
        |    CAST(sum(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE) AS szz
        |  FROM z GROUP BY event_type
        |), tot AS (
        |  SELECT count(*) AS k, sum(n) AS nt,
        |    CAST(sum(CAST(sz AS DECIMAL(38,12))) AS DOUBLE) AS szt,
        |    CAST(sum(CAST(szz - sz * sz / n AS DECIMAL(38,12))) AS DOUBLE)
        |      AS ssw
        |  FROM g
        |), b AS (
        |  SELECT max(t.k) AS k, max(t.nt) AS nt, max(t.ssw) AS ssw,
        |    CAST(sum(CAST(g.n * (g.sz / g.n - t.szt / t.nt)
        |      * (g.sz / g.n - t.szt / t.nt) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS ssb
        |  FROM g, tot t
        |)
        |SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS n_total,
        |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |  round((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS bf_stat
        |FROM b""".stripMargin) { (spark, dir) =>
      def dsum(c: Column): Column =
        sum(c.cast("decimal(38,12)")).cast("double")
      val ev = Tables(spark, dir).events
      val med = ev.groupBy("event_type").agg(expr("median(value)").as("md"))
      val g = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("value") - col("md")).as("z"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("z")).as("sz"),
          dsum(col("z") * col("z")).as("szz"))
      val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
        dsum(col("sz")).as("szt"),
        dsum(col("szz") - col("sz") * col("sz") / col("n")).as("ssw"))
      g.crossJoin(broadcast(tot))
        .agg(max(col("k")).as("k"), max(col("nt")).as("nt"),
          max(col("ssw")).as("ssw"),
          dsum(col("n") * (col("sz") / col("n") - col("szt") / col("nt"))
            * (col("sz") / col("n") - col("szt") / col("nt"))).as("ssb"))
        .select(col("k").cast("int").as("k"),
          col("nt").cast("long").as("n_total"),
          round(col("ssb"), 6).as("ss_between"),
          round(col("ssw"), 6).as("ss_within"),
          round((col("ssb") / (col("k") - 1))
            / (col("ssw") / (col("nt") - col("k"))), 6).as("bf_stat"))
    },

    // ---- Grubbs outlier test: the single most extreme supplier
    //      balance vs the N(μ,σ) hypothesis. The ARGMAX is decided on
    //      the exact integer |x·N − S| (cross-multiplied deviation —
    //      no float compare can flip it, the q_louvain_move argmax
    //      discipline); only the final G statistic touches doubles,
    //      computed from exact integer moments identically on both
    //      engines. One moments pass + one broadcast-threshold scan.
    QueryDef.checked(
      "q_grubbs_outlier",
      """WITH s AS (
        |  SELECT s_suppkey AS k,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS c
        |  FROM supplier
        |), m AS (
        |  SELECT count(*) AS n, sum(c) AS sc, sum(c * c) AS scc FROM s
        |), top AS (
        |  SELECT s.k, s.c, abs(s.c * m.n - m.sc) AS dev_xn
        |  FROM s, m ORDER BY abs(s.c * m.n - m.sc) DESC, s.k LIMIT 1
        |)
        |SELECT CAST(m.n AS BIGINT) AS n, t.k AS suspect_key,
        |  round(t.c / 100.0, 6) AS suspect_value,
        |  round(CAST(m.sc AS DOUBLE) / m.n / 100.0, 6) AS mean_value,
        |  round((CAST(t.dev_xn AS DOUBLE) / m.n / 100.0)
        |    / sqrt((m.scc - CAST(m.sc AS DOUBLE) * m.sc / m.n)
        |           / (m.n - 1)) * 100.0, 6) AS g_stat
        |FROM top t, m""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).supplier.select(col("s_suppkey").as("k"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("c"))
      val m = s.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      val top = s.crossJoin(broadcast(m))
        .withColumn("dev_xn", abs(col("c") * col("n") - col("sc")))
        .orderBy(col("dev_xn").desc, col("k"))
        .limit(1)
      top.select(col("n").cast("long").as("n"), col("k").as("suspect_key"),
        round(col("c") / 100.0, 6).as("suspect_value"),
        round(col("sc").cast("double") / col("n") / 100.0, 6)
          .as("mean_value"),
        round((col("dev_xn").cast("double") / col("n") / 100.0)
          / sqrt((col("scc") - col("sc").cast("double") * col("sc")
            / col("n")) / (col("n") - 1)) * 100.0, 6).as("g_stat"))
    },

    // ---- tail risk: 95% VaR and expected shortfall over order values
    //      — VaR as the EXACT ⌈0.95·N⌉-th order statistic (no
    //      interpolation ambiguity across engines) via RangeRank's
    //      range-exchange global rank, ES as the exact-cents mean of
    //      the tail at or above it. The risk-reporting twin of
    //      q_max_drawdown; at 100 TB the rank pass is the same
    //      repartitionByRange the percentile family already uses.
    QueryDef.checked(
      "q_var_es",
      """WITH s AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM s
        |), v AS (
        |  SELECT c AS var_cents, n FROM r
        |  WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
        |)
        |SELECT CAST(v.n AS BIGINT) AS n,
        |  v.var_cents,
        |  CAST(count(*) AS BIGINT) AS n_tail,
        |  round(CAST(sum(s.c) AS DOUBLE) / count(*) / 100.0, 6)
        |    AS es_value
        |FROM s, v WHERE s.c >= v.var_cents
        |GROUP BY v.n, v.var_cents""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).orders.select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      val (ranked, n) = RangeRank.withGlobalRankAndTotal(
        s, "rn", 8, col("c"), col("o_orderkey"))
      val kth = math.ceil(0.95 * n).toLong
      val v = ranked.filter(col("rn") === kth)
        .select(col("c").as("var_cents"))
      s.crossJoin(broadcast(v))
        .filter(col("c") >= col("var_cents"))
        .groupBy("var_cents")
        .agg(count(lit(1)).as("n_tail"), sum(col("c")).as("tail_sum"))
        .select(lit(n).as("n"), col("var_cents"),
          col("n_tail").cast("long").as("n_tail"),
          round(col("tail_sum").cast("double") / col("n_tail") / 100.0, 6)
            .as("es_value"))
    },

    // ---- static merge application (the inference half of the BPE
    //      family): take the corpus's top-3 character bigrams (the
    //      q_bpe_pairs ranking) and apply them as merges to the
    //      spaced-symbol form, reporting per-source token counts
    //      before/after — tokenizer-fertility measurement for a
    //      candidate merge table. replace() is left-to-right
    //      non-overlapping on both engines (the q_bpe_train parity
    //      contract). One bigram aggregate (3-row broadcast) + one
    //      corpus rewrite pass.
    QueryDef.checked(
      "q_bpe_apply",
      """WITH words AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), cp AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> substring(w, CAST(i AS INT), 2))) AS pair
        |  FROM words WHERE len(w) >= 2
        |), top3 AS (
        |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair)
        |    AS r
        |  FROM cp GROUP BY pair
        |  ORDER BY count(*) DESC, pair LIMIT 3
        |), m AS (
        |  SELECT max(CASE WHEN r = 1 THEN pair END) AS p1,
        |    max(CASE WHEN r = 2 THEN pair END) AS p2,
        |    max(CASE WHEN r = 3 THEN pair END) AS p3
        |  FROM top3
        |), sym AS (
        |  SELECT source,
        |    concat(' ', regexp_replace(w, '(.)', '\1 ', 'g')) AS s0
        |  FROM words
        |), applied AS (
        |  SELECT source,
        |    len(string_split(trim(s0), ' ')) AS n_before,
        |    len(string_split(trim(replace(replace(replace(s0,
        |      concat(' ', substring(p1, 1, 1), ' ', substring(p1, 2, 1), ' '),
        |      concat(' ', p1, ' ')),
        |      concat(' ', substring(p2, 1, 1), ' ', substring(p2, 2, 1), ' '),
        |      concat(' ', p2, ' ')),
        |      concat(' ', substring(p3, 1, 1), ' ', substring(p3, 2, 1), ' '),
        |      concat(' ', p3, ' '))), ' ')) AS n_after
        |  FROM sym, m
        |)
        |SELECT source,
        |  CAST(sum(n_before) AS BIGINT) AS tokens_before,
        |  CAST(sum(n_after) AS BIGINT) AS tokens_after,
        |  CAST((sum(n_before) - sum(n_after)) * 1000000 // sum(n_before)
        |    AS BIGINT) AS saved_ppm
        |FROM applied GROUP BY source ORDER BY source""".stripMargin) {
      (spark, dir) =>
      val words = Tables(spark, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .transform(localCheckpoint) // bigram count + the rewrite pass share it
      val top3 = words.filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(3)
        .collect().map(_.getString(0)) // 3-row bounded collect
      require(top3.length == 3,
        s"q_bpe_apply needs >= 3 distinct character bigrams in the corpus" +
          s" (found ${top3.length}) — the oracle's 3-merge table assumes them")
      val Array(p1, p2, p3) = top3
      def sp(p: String) = s" ${p.charAt(0)} ${p.charAt(1)} "
      def mg(p: String) = s" $p "
      words
        .select(col("source"),
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s0"))
        .select(col("source"),
          size(split(trim(col("s0")), " ")).as("n_before"),
          size(split(trim(
            regexp_replace(regexp_replace(regexp_replace(col("s0"),
              java.util.regex.Pattern.quote(sp(p1)), mg(p1)),
              java.util.regex.Pattern.quote(sp(p2)), mg(p2)),
              java.util.regex.Pattern.quote(sp(p3)), mg(p3))), " "))
            .as("n_after"))
        .groupBy("source")
        .agg(sum(col("n_before")).cast("long").as("tokens_before"),
          sum(col("n_after")).cast("long").as("tokens_after"))
        .withColumn("saved_ppm", expr(
          "(tokens_before - tokens_after) * 1000000 div tokens_before"))
        .orderBy("source")
    },

    // ---- quantile regression by pinball-loss grid: the τ = 0.9 check
    //      loss evaluated at every 25k-dollar candidate threshold —
    //      the loss CURVE, with the argmin flagged by exact integer
    //      comparison (loss is exact cents: Σ 9·(x−c)⁺ + 1·(c−x)⁺,
    //      scaled ×10 to keep τ rational). This is how a quantile fit
    //      is screened distributively: one scan crossed with a
    //      20-row broadcast grid, partial aggregation does the rest.
    QueryDef.checked(
      "q_quantile_regression_grid",
      """WITH s AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |), grid AS (
        |  SELECT unnest(range(1, 21)) * 2500000 AS cand
        |), loss AS (
        |  SELECT g.cand,
        |    sum(CASE WHEN s.c > g.cand THEN 9 * (s.c - g.cand)
        |             ELSE (g.cand - s.c) END) AS pinball10
        |  FROM s, grid g GROUP BY g.cand
        |), best AS (
        |  -- argmin by an encoded exact integer key (loss ties broken by
        |  -- candidate index) -- portable where struct min_by is not
        |  SELECT min(pinball10 * 32 + cand // 2500000) AS bk FROM loss
        |)
        |SELECT CAST(l.cand AS BIGINT) AS cand_cents,
        |  CAST(l.pinball10 AS BIGINT) AS pinball_x10,
        |  l.pinball10 * 32 + l.cand // 2500000 = b.bk AS is_argmin
        |FROM loss l, best b
        |ORDER BY cand_cents""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).orders
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      val grid = spark.range(1, 21)
        .select((col("id") * 2500000L).as("cand"))
      val loss = s.crossJoin(broadcast(grid))
        .groupBy("cand")
        .agg(sum(when(col("c") > col("cand"), lit(9) * (col("c") - col("cand")))
          .otherwise(col("cand") - col("c"))).as("pinball10"))
        .transform(localCheckpoint) // 20 rows; feeds argmin + the curve
      val best = loss.agg(
        expr("min(pinball10 * 32 + cand div 2500000)").as("bk"))
      loss.crossJoin(broadcast(best))
        .select(col("cand").cast("long").as("cand_cents"),
          col("pinball10").cast("long").as("pinball_x10"),
          (col("pinball10") * 32 + expr("cand div 2500000") === col("bk"))
            .as("is_argmin"))
        .orderBy("cand_cents")
    },

    // ---- KV-cache capacity planning: for each serving configuration
    //      (layers × kv-heads × head-dim × bytes/elem), per-token KV
    //      bytes are a constant and the doc-length distribution prices
    //      the batch — max batch sizes under an 24 GiB cache budget by
    //      mean and by max doc length (the optimistic/safe bracket
    //      every inference scheduler computes). Pure integer
    //      arithmetic over one length aggregate crossed with the
    //      3-row config grid.
    QueryDef.checked(
      "q_kv_cache_budget",
      """WITH d AS (
        |  SELECT (n_chars + 3) // 4 AS tok FROM documents
        |), stats AS (
        |  SELECT count(*) AS n_docs, sum(tok) AS tok_total,
        |    max(tok) AS tok_max FROM d
        |), cfg AS (
        |  SELECT * FROM (VALUES
        |    ('7b',  32, 8, 128, 2),
        |    ('13b', 40, 8, 128, 2),
        |    ('70b', 80, 8, 128, 2)) AS t(model, layers, kv_heads, hd, b)
        |)
        |SELECT model,
        |  CAST(2 * layers * kv_heads * hd * b AS BIGINT)
        |    AS kv_bytes_per_tok,
        |  CAST(2 * layers * kv_heads * hd * b * (tok_total // n_docs)
        |    AS BIGINT) AS kv_bytes_mean_doc,
        |  CAST(25769803776 // (2 * layers * kv_heads * hd * b
        |    * (tok_total // n_docs)) AS BIGINT) AS batch_by_mean,
        |  CAST(25769803776 // (2 * layers * kv_heads * hd * b * tok_max)
        |    AS BIGINT) AS batch_by_max
        |FROM cfg, stats ORDER BY model""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val stats = Tables(spark, dir).documents
        .select(expr("(n_chars + 3) div 4").as("tok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_total"),
          max(col("tok")).as("tok_max"))
      val cfg = Seq(("7b", 32, 8, 128, 2), ("13b", 40, 8, 128, 2),
        ("70b", 80, 8, 128, 2)).toDF("model", "layers", "kv_heads", "hd", "b")
      cfg.crossJoin(broadcast(stats))
        .withColumn("kv_bytes_per_tok",
          (lit(2) * col("layers") * col("kv_heads") * col("hd") * col("b"))
            .cast("long"))
        .withColumn("mean_tok", expr("tok_total div n_docs"))
        .select(col("model"), col("kv_bytes_per_tok"),
          (col("kv_bytes_per_tok") * col("mean_tok")).cast("long")
            .as("kv_bytes_mean_doc"),
          expr("25769803776L div (kv_bytes_per_tok * mean_tok)")
            .cast("long").as("batch_by_mean"),
          expr("25769803776L div (kv_bytes_per_tok * tok_max)")
            .cast("long").as("batch_by_max"))
        .orderBy("model")
    },

    // ---- topic coherence by pairwise lift: each source's top-5 terms
    //      (its "topic"), scored by document-co-occurrence lift
    //      nab·N/(na·nb) — 1 means independent, >1 coherent. Lift is
    //      an exact rational (counts only, one division), so unlike
    //      NPMI there is no cross-libm ln in the loop; the per-source
    //      mean decimal-sums 10 bounded addends. Scale: term counts
    //      are one grouped pass; the incidence self-join is restricted
    //      to the 5-term-per-source broadcast, so each doc contributes
    //      ≤ C(5,2) pair rows.
    QueryDef.checked(
      "q_topic_coherence",
      """WITH toks AS (
        |  SELECT DISTINCT source, doc_id,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), cnt AS (
        |  SELECT source, term, count(*) AS df FROM toks
        |  GROUP BY source, term
        |), top5 AS (
        |  SELECT source, term, df FROM (
        |    SELECT source, term, df, row_number() OVER (
        |      PARTITION BY source ORDER BY df DESC, term) AS r
        |    FROM cnt) x WHERE r <= 5
        |), nd AS (
        |  SELECT source, count(DISTINCT doc_id) AS n_docs FROM toks
        |  GROUP BY source
        |), inc AS (
        |  SELECT t.source, t.doc_id, t.term
        |  FROM toks t JOIN top5 f
        |    ON f.source = t.source AND f.term = t.term
        |), pair AS (
        |  SELECT a.source, a.term AS ta, b.term AS tb, count(*) AS nab
        |  FROM inc a JOIN inc b
        |    ON b.source = a.source AND b.doc_id = a.doc_id
        |    AND b.term > a.term
        |  GROUP BY a.source, a.term, b.term
        |), lifted AS (
        |  SELECT p.source,
        |    CAST(p.nab AS DOUBLE) * d.n_docs / (fa.df * fb.df) AS lift
        |  FROM pair p
        |  JOIN top5 fa ON fa.source = p.source AND fa.term = p.ta
        |  JOIN top5 fb ON fb.source = p.source AND fb.term = p.tb
        |  JOIN nd d ON d.source = p.source
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(CAST(lift AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*), 6) AS mean_lift,
        |  round(min(lift), 6) AS min_lift,
        |  round(max(lift), 6) AS max_lift
        |FROM lifted GROUP BY source ORDER BY source""".stripMargin) {
      (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables(spark, dir).documents
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .distinct()
        .transform(localCheckpoint) // counts, incidence, and doc totals share it
      val cnt = toks.groupBy("source", "term").agg(count(lit(1)).as("df"))
      val top5 = cnt.withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy(col("df").desc, col("term"))))
        .filter(col("r") <= 5).select("source", "term", "df")
        .transform(localCheckpoint) // 5 rows per source; broadcast everywhere
      val nd = toks.groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val inc = toks.join(broadcast(top5.select("source", "term")),
        Seq("source", "term"))
      val pair = inc.select(col("source"), col("doc_id"), col("term").as("ta"))
        .join(inc.select(col("source"), col("doc_id"), col("term").as("tb")),
          Seq("source", "doc_id"))
        .filter(col("tb") > col("ta"))
        .groupBy("source", "ta", "tb").agg(count(lit(1)).as("nab"))
      pair
        .join(broadcast(top5.select(col("source"), col("term").as("ta"),
          col("df").as("dfa"))), Seq("source", "ta"))
        .join(broadcast(top5.select(col("source"), col("term").as("tb"),
          col("df").as("dfb"))), Seq("source", "tb"))
        .join(broadcast(nd), Seq("source"))
        .select(col("source"),
          (col("nab").cast("double") * col("n_docs")
            / (col("dfa") * col("dfb"))).as("lift"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("lift").cast("decimal(38,15)")).cast("double")
            / count(lit(1)), 6).as("mean_lift"),
          round(min(col("lift")), 6).as("min_lift"),
          round(max(col("lift")), 6).as("max_lift"))
        .select(col("source"), col("n_pairs").cast("long").as("n_pairs"),
          col("mean_lift"), col("min_lift"), col("max_lift"))
        .orderBy("source")
    },

    // ---- gradient top-k sparsification: per-label mean vector (the
    //      "gradient" of a one-step centroid objective), kept to its 8
    //      largest-magnitude dims — the communication-compression
    //      decision every distributed trainer prices: coverage_ppm is
    //      the L1 mass the sparse update preserves. Means come from
    //      decimal-summed dims (order-proof), then EVERYTHING is
    //      1e6 fixed point: the magnitude ranking can never float-tie.
    //      One corpus pass; ranking runs on the bounded
    //      |labels|×64-row relation.
    QueryDef.checked(
      "q_gradient_sparsify",
      """WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT label, dim,
        |    CAST(round(CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*) * 1000000) AS BIGINT) AS g_fp
        |  FROM dims GROUP BY label, dim
        |), ranked AS (
        |  SELECT label, dim, g_fp, row_number() OVER (
        |    PARTITION BY label ORDER BY abs(g_fp) DESC, dim) AS r
        |  FROM m
        |)
        |SELECT label,
        |  CAST(sum(abs(g_fp)) AS BIGINT) AS l1_total_fp,
        |  CAST(sum(CASE WHEN r <= 8 THEN abs(g_fp) ELSE 0 END) AS BIGINT)
        |    AS l1_kept_fp,
        |  CAST(sum(CASE WHEN r <= 8 THEN abs(g_fp) ELSE 0 END) * 1000000
        |    // sum(abs(g_fp)) AS BIGINT) AS coverage_ppm,
        |  CAST(min(CASE WHEN r = 1 THEN dim END) AS INT) AS top_dim
        |FROM ranked GROUP BY label ORDER BY label""".stripMargin) {
      (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables(spark, dir).embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("label"), (col("d0") + 1).as("dim"),
          col("v").cast("double").as("v"))
        .groupBy("label", "dim")
        .agg(round(sum(col("v").cast("decimal(38,15)")).cast("double")
          / count(lit(1)) * 1000000).cast("long").as("g_fp"))
      // bounded: |labels| × 64 rows
      val ranked = m.withColumn("r", row_number().over(
        Window.partitionBy("label").orderBy(abs(col("g_fp")).desc, col("dim"))))
      ranked.groupBy("label")
        .agg(sum(abs(col("g_fp"))).cast("long").as("l1_total_fp"),
          sum(when(col("r") <= 8, abs(col("g_fp"))).otherwise(0L))
            .cast("long").as("l1_kept_fp"),
          min(when(col("r") === 1, col("dim"))).cast("int").as("top_dim"))
        .select(col("label"), col("l1_total_fp"), col("l1_kept_fp"),
          expr("l1_kept_fp * 1000000 div l1_total_fp").as("coverage_ppm"),
          col("top_dim"))
        .select("label", "l1_total_fp", "l1_kept_fp", "coverage_ppm",
          "top_dim")
        .orderBy("label")
    },

    // ---- shard rebalance manifest: hash-sharded doc bytes vs the
    //      even-split target — each shard's surplus/deficit and its
    //      cumulative position in the move "pool" (senders fill it,
    //      receivers drain it; matching cumulative intervals IS the
    //      move plan, the classic balanced-repartition trick). The
    //      corpus contributes one grouped size pass; the plan is
    //      arithmetic over the 8-row shard relation.
    QueryDef.checked(
      "q_shard_rebalance",
      """WITH s AS (
        |  SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 8 AS shard,
        |    n_chars
        |  FROM documents
        |), sz AS (
        |  SELECT shard, count(*) AS n_docs, sum(n_chars) AS bytes
        |  FROM s GROUP BY shard
        |), t AS (
        |  SELECT sum(bytes) AS total, sum(bytes) // 8 AS target FROM sz
        |)
        |SELECT sz.shard, CAST(sz.n_docs AS BIGINT) AS n_docs,
        |  CAST(sz.bytes AS BIGINT) AS bytes,
        |  CAST(t.target AS BIGINT) AS target_bytes,
        |  CAST(sz.bytes - t.target AS BIGINT) AS delta_bytes,
        |  CASE WHEN sz.bytes > t.target THEN 'send'
        |       WHEN sz.bytes < t.target THEN 'receive'
        |       ELSE 'hold' END AS role,
        |  CAST(sum(CASE WHEN sz.bytes > t.target
        |      THEN sz.bytes - t.target ELSE 0 END)
        |    OVER (ORDER BY sz.shard) AS BIGINT) AS send_pool_end,
        |  CAST(sum(CASE WHEN sz.bytes < t.target
        |      THEN t.target - sz.bytes ELSE 0 END)
        |    OVER (ORDER BY sz.shard) AS BIGINT) AS recv_pool_end
        |FROM sz, t ORDER BY sz.shard""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sz = Tables(spark, dir).documents
        .select(expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT) % 8").as("shard"), col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val t = sz.agg(sum(col("bytes")).as("total"),
        expr("sum(bytes) div 8").as("target"))
      // 8-row relation (shard count): measured 8 @ sf0.01 AND sf0.1
      // (PlanProbe r7)
      val w = Window.orderBy("shard")
      sz.crossJoin(broadcast(t))
        .withColumn("delta_bytes", col("bytes") - col("target"))
        .withColumn("role",
          when(col("bytes") > col("target"), "send")
            .when(col("bytes") < col("target"), "receive")
            .otherwise("hold"))
        .withColumn("send_pool_end",
          sum(when(col("bytes") > col("target"),
            col("bytes") - col("target")).otherwise(0L)).over(w))
        .withColumn("recv_pool_end",
          sum(when(col("bytes") < col("target"),
            col("target") - col("bytes")).otherwise(0L)).over(w))
        .select(col("shard"), col("n_docs").cast("long").as("n_docs"),
          col("bytes").cast("long").as("bytes"),
          col("target").cast("long").as("target_bytes"),
          col("delta_bytes").cast("long").as("delta_bytes"), col("role"),
          col("send_pool_end").cast("long").as("send_pool_end"),
          col("recv_pool_end").cast("long").as("recv_pool_end"))
        .orderBy("shard")
    },

    // ---- SQL session variables (Spark 4 surface): business constants
    //      DECLAREd once and referenced by name — Catalyst inlines the
    //      variable's VALUE into the plan at analysis time, so unlike a
    //      join against a settings table this costs nothing at 100 TB
    //      (constant folding + filter pushdown see the literal). The
    //      oracle inlines the same constants textually, proving the
    //      variable indirection is free.
    QueryDef.checked(
      "q_sql_variables",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_big,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |WHERE o_totalprice >= 150000.0
        |  AND year(o_orderdate) >= 1996
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      spark.sql("DECLARE OR REPLACE VARIABLE graft_min_price DOUBLE")
      spark.sql("DECLARE OR REPLACE VARIABLE graft_min_year INT DEFAULT 1996")
      spark.sql("SET VAR graft_min_price = 150000.0")
      Tables(spark, dir).orders.createOrReplaceTempView("graft_var_orders")
      spark.sql(
        """SELECT o_orderpriority,
          |  count(*) AS n_big,
          |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
          |FROM graft_var_orders
          |WHERE o_totalprice >= graft_min_price
          |  AND year(o_orderdate) >= graft_min_year
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },

    // ---- month-over-month / year-over-year growth: the BI staple —
    //      monthly revenue in exact cents, growth vs lag(1) and
    //      lag(12) over the CALENDAR-BOUNDED month spine (≤ ~84 rows
    //      for the TPC-H date span; a bare ordered window is safe
    //      here and forever). Ratios are single divisions of exact
    //      integers — bit-identical on both engines.
    QueryDef.checked(
      "q_mom_yoy",
      """WITH m AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1
        |)
        |SELECT CAST(ym AS INT) AS ym,
        |  CAST(n_orders AS BIGINT) AS n_orders, CAST(cents AS BIGINT) AS cents,
        |  round(CAST(cents - lag(cents, 1) OVER w AS DOUBLE)
        |    / lag(cents, 1) OVER w, 6) AS mom_growth,
        |  round(CAST(cents - lag(cents, 12) OVER w AS DOUBLE)
        |    / lag(cents, 12) OVER w, 6) AS yoy_growth
        |FROM m
        |WINDOW w AS (ORDER BY ym)
        |ORDER BY ym""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables(spark, dir).orders
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"), count(lit(1)).as("n_orders"))
      // bare ordered window over the month spine — calendar-bounded:
      // measured 80 rows @ sf0.01 AND sf0.1 (PlanProbe r7;
      // sweep-allowlisted)
      val w = Window.orderBy("ym")
      m.select(col("ym").cast("int").as("ym"),
          col("n_orders").cast("long").as("n_orders"),
          col("cents").cast("long").as("cents"),
          round((col("cents") - lag(col("cents"), 1).over(w)).cast("double")
            / lag(col("cents"), 1).over(w), 6).as("mom_growth"),
          round((col("cents") - lag(col("cents"), 12).over(w)).cast("double")
            / lag(col("cents"), 12).over(w), 6).as("yoy_growth"))
        .orderBy("ym")
    },

    // ---- Merkle-descent clone diff: level-1 digests over 16 shards
    //      find WHICH shards drifted, then level-2 digests over 256
    //      sub-shards run ONLY inside the failing shards — the
    //      two-round narrowing that localizes re-sync work to ~1/256
    //      of the keyspace while scanning the corpus twice at most
    //      (q_clone_checksum is the one-level version; q_table_diff is
    //      the row-level endgame below the failing leaf). Digests are
    //      order-independent (count + XOR of row hashes), so shard
    //      aggregation order can never flip a verdict.
    QueryDef.checked(
      "q_clone_merkle_diff",
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderkey % 16 AS s1,
        |    o_orderkey % 256 AS s2,
        |    CAST(concat('0x', substring(md5(concat(
        |      CAST(o_orderkey AS VARCHAR), '|',
        |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR))),
        |      1, 15)) AS BIGINT) AS h
        |  FROM orders
        |), tgt AS (
        |  SELECT k, s1, s2,
        |    CAST(concat('0x', substring(md5(concat(
        |      CAST(k AS VARCHAR), '|', CAST(c2 AS VARCHAR))), 1, 15))
        |      AS BIGINT) AS h
        |  FROM (
        |    SELECT o_orderkey AS k, o_orderkey % 16 AS s1,
        |      o_orderkey % 256 AS s2,
        |      CAST(round(o_totalprice * 100) AS BIGINT)
        |        + CASE WHEN o_orderkey % 9973 = 0 THEN 1 ELSE 0 END AS c2
        |    FROM orders)
        |), l1 AS (
        |  SELECT a.s1, a.n AS n_src, b.n AS n_tgt
        |  FROM (SELECT s1, count(*) AS n, bit_xor(h) AS d FROM src GROUP BY s1) a
        |  JOIN (SELECT s1, count(*) AS n, bit_xor(h) AS d FROM tgt GROUP BY s1) b
        |    ON b.s1 = a.s1
        |  WHERE a.d <> b.d OR a.n <> b.n
        |), l2 AS (
        |  SELECT a.s2, a.n AS n_src, a.d AS d_src, b.d AS d_tgt
        |  FROM (SELECT s2, count(*) AS n, bit_xor(h) AS d FROM src
        |        WHERE s1 IN (SELECT s1 FROM l1) GROUP BY s2) a
        |  JOIN (SELECT s2, count(*) AS n, bit_xor(h) AS d FROM tgt
        |        WHERE s1 IN (SELECT s1 FROM l1) GROUP BY s2) b
        |    ON b.s2 = a.s2
        |  WHERE a.d <> b.d OR a.n <> b.n
        |)
        |SELECT CAST(s2 AS BIGINT) AS subshard,
        |  CAST(s2 % 16 AS BIGINT) AS parent_shard,
        |  CAST(n_src AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM l1) AS BIGINT) AS n_dirty_shards
        |FROM l2 ORDER BY subshard""".stripMargin) { (spark, dir) =>
      val base = Tables(spark, dir).orders
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") % 16).as("s1"), (col("o_orderkey") % 256).as("s2"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .transform(localCheckpoint) // src and the planted-drift tgt share the scan
      def hashed(df: org.apache.spark.sql.DataFrame) = df.select(
        col("k"), col("s1"), col("s2"),
        expr("""CAST(conv(substring(md5(concat(
               |  CAST(k AS STRING), '|', CAST(c AS STRING))), 1, 15),
               |  16, 10) AS BIGINT)""".stripMargin).as("h"))
      val src = hashed(base)
      val tgt = hashed(base.withColumn("c",
        col("c") + when(col("k") % 9973 === 0, 1L).otherwise(0L)))
      def digests(df: org.apache.spark.sql.DataFrame, key: String) =
        df.groupBy(key).agg(count(lit(1)).as("n"),
          expr("bit_xor(h)").as("d"))
      val l1 = digests(src, "s1").select(col("s1"), col("n").as("na"),
          col("d").as("da"))
        .join(digests(tgt, "s1").select(col("s1"), col("n").as("nb"),
          col("d").as("db")), Seq("s1"))
        .filter(col("da") =!= col("db") || col("na") =!= col("nb"))
        .select("s1")
        .transform(localCheckpoint) // tiny dirty-shard list; prunes both level-2 scans
      val nDirty = l1.count()
      val l2 = digests(src.join(broadcast(l1), Seq("s1")), "s2")
        .select(col("s2"), col("n").as("na"), col("d").as("da"))
        .join(digests(tgt.join(broadcast(l1), Seq("s1")), "s2")
          .select(col("s2"), col("n").as("nb"), col("d").as("db")), Seq("s2"))
        .filter(col("da") =!= col("db") || col("na") =!= col("nb"))
      l2.select(col("s2").cast("long").as("subshard"),
          (col("s2") % 16).cast("long").as("parent_shard"),
          col("na").cast("long").as("n_rows"),
          lit(nDirty).as("n_dirty_shards"))
        .orderBy("subshard")
    },

    // ---- weighted quantiles: the median and p90 of per-unit price
    //      WEIGHTED BY QUANTITY (each unit sold counts once) — the
    //      inventory-valuation / effort-weighted-latency shape plain
    //      percentiles get wrong. Exact by construction: one grouped
    //      pass collapses to ≤ |distinct price| rows, the running
    //      weight is a prefix sum over that bounded relation, and the
    //      quantile is the smallest value whose cumulative weight
    //      clears the threshold (integer compare; thresholds are
    //      ceil-rational via cross-multiplication, no doubles).
    QueryDef.checked(
      "q_weighted_quantile",
      """WITH u AS (
        |  SELECT CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)
        |    AS unit_cents, CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |), g AS (
        |  SELECT unit_cents, sum(w) AS w FROM u GROUP BY unit_cents
        |), c AS (
        |  SELECT unit_cents, w,
        |    sum(w) OVER (ORDER BY unit_cents) AS cw,
        |    sum(w) OVER () AS tw
        |  FROM g
        |)
        |SELECT
        |  CAST(max(tw) AS BIGINT) AS total_weight,
        |  CAST(min(CASE WHEN cw * 2 >= tw THEN unit_cents END) AS BIGINT)
        |    AS weighted_median_cents,
        |  CAST(min(CASE WHEN cw * 10 >= tw * 9 THEN unit_cents END)
        |    AS BIGINT) AS weighted_p90_cents,
        |  CAST(min(CASE WHEN cw * 100 >= tw * 99 THEN unit_cents END)
        |    AS BIGINT) AS weighted_p99_cents
        |FROM c""".stripMargin) { (spark, dir) =>
      val g = Tables(spark, dir).lineitem
        .select(expr("CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)")
          .as("unit_cents"), col("l_quantity").cast("long").as("w"))
        .groupBy("unit_cents").agg(sum(col("w")).as("w"))
      // the distinct-price relation GROWS with the corpus (57k rows at
      // sf0.01 → 400k at sf0.1, ~linear), so the prefix sum rides
      // RangeRank's range-exchange scan — no single-partition window.
      // The scalar total aggregates the RangeRank OUTPUT (backed by its
      // internal localCheckpoint), not `g` — aggregating `g` again
      // would re-run the full lineitem scan + groupBy just for one row
      val c0 = RangeRank.withGlobalCumSum(g, "cw", "w",
        spark.sessionState.conf.numShufflePartitions, col("unit_cents"))
      val tot = c0.agg(sum(col("w")).as("tw"))
      val c = c0.crossJoin(broadcast(tot))
      c.agg(max(col("tw")).cast("long").as("total_weight"),
        min(when(col("cw") * 2 >= col("tw"), col("unit_cents")))
          .cast("long").as("weighted_median_cents"),
        min(when(col("cw") * 10 >= col("tw") * 9, col("unit_cents")))
          .cast("long").as("weighted_p90_cents"),
        min(when(col("cw") * 100 >= col("tw") * 99, col("unit_cents")))
          .cast("long").as("weighted_p99_cents"))
    },

    // ---- exact ROC AUC by the rank formula: AUC = (R₁ − n₁(n₁+1)/2)
    //      / (n₁·n₀) with R₁ the positive class's tie-averaged rank
    //      sum — the probabilistic-interpretation identity that makes
    //      exact AUC ONE rank pass instead of a threshold sweep
    //      (q_pr_curve is the sweep view; this is the scalar that gets
    //      tracked per model version). Ranks are tie-averaged over the
    //      score's fixed-point value, so the only division is the
    //      final one. Scale: global ranks via the grouped score
    //      relation's prefix sums — bounded by |distinct scores|.
    QueryDef.checked(
      "q_auc_roc",
      """WITH s AS (
        |  SELECT CAST(round(value * 1000000) AS BIGINT) AS sc,
        |    CAST(event_type = 'purchase' AS INT) AS y
        |  FROM events
        |), g AS (
        |  SELECT sc, count(*) AS n, sum(y) AS n_pos FROM s GROUP BY sc
        |), r AS (
        |  SELECT sc, n, n_pos,
        |    sum(n) OVER (ORDER BY sc) AS cn
        |  FROM g
        |), ranked AS (
        |  -- tie-averaged rank of every row at this score:
        |  -- (cn - n + 1 + cn) / 2, held as 2× to stay integer
        |  SELECT n_pos, (2 * cn - n + 1) AS rank2 FROM r
        |), m AS (
        |  SELECT sum(CAST(n_pos AS BIGINT) * rank2) AS r1_2,
        |    sum(n_pos) AS n1 FROM ranked
        |), t AS (SELECT count(*) AS n FROM s)
        |SELECT CAST(m.n1 AS BIGINT) AS n_pos,
        |  CAST(t.n - m.n1 AS BIGINT) AS n_neg,
        |  round((CAST(m.r1_2 AS DOUBLE) / 2 - CAST(m.n1 AS DOUBLE)
        |      * (m.n1 + 1) / 2)
        |    / (CAST(m.n1 AS DOUBLE) * (t.n - m.n1)), 6) AS auc
        |FROM m, t""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).events
        .select(expr("CAST(round(value * 1000000) AS BIGINT)").as("sc"),
          (col("event_type") === "purchase").cast("int").as("y"))
      val g = s.groupBy("sc")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      // |distinct scores| grows with the corpus (6.6k at sf0.01 → 17.8k
      // at sf0.1), so the rank prefix sum rides RangeRank's range-
      // exchange scan; 2× tie-averaged ranks stay integer
      val r = RangeRank.withGlobalCumSum(g, "cn", "n",
          spark.sessionState.conf.numShufflePartitions, col("sc"))
        .withColumn("rank2", lit(2) * col("cn") - col("n") + 1)
      // the total event count folds into the SAME aggregate as the rank
      // sum (Σ n over the grouped relation == count(s)) — no second
      // events scan just for the denominator
      val m = r.agg(sum(col("n_pos").cast("long") * col("rank2")).as("r1_2"),
        sum(col("n_pos")).as("n1"), sum(col("n")).as("n"))
      m
        .select(col("n1").cast("long").as("n_pos"),
          (col("n") - col("n1")).cast("long").as("n_neg"),
          round((col("r1_2").cast("double") / 2
            - col("n1").cast("double") * (col("n1") + 1) / 2)
            / (col("n1").cast("double") * (col("n") - col("n1"))), 6)
            .as("auc"))
    },

    // ---- trimmed mean: the 5%-each-side mean of order value — the
    //      robust center that survives fat tails without winsorize's
    //      value substitution. Exact: global ranks via RangeRank, the
    //      trim bounds are cross-multiplied integer comparisons, and
    //      the kept mass sums in exact cents; ONE division at the end.
    QueryDef.checked(
      "q_trimmed_mean",
      """WITH s AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM s
        |), kept AS (
        |  SELECT c, n FROM r WHERE rn * 20 > n AND (n - rn) * 20 >= n
        |)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6)
        |    AS trimmed_mean,
        |  round((SELECT CAST(sum(c) AS DOUBLE) / count(*) / 100.0 FROM s), 6)
        |    AS raw_mean
        |FROM kept""".stripMargin) { (spark, dir) =>
      val s = Tables(spark, dir).orders.select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      val (ranked, n) = RangeRank.withGlobalRankAndTotal(
        s, "rn", 8, col("c"), col("o_orderkey"))
      val raw = s.agg(
        round(sum(col("c")).cast("double") / count(lit(1)) / 100.0, 6)
          .as("raw_mean"))
      ranked.filter(col("rn") * 20 > n && (lit(n) - col("rn")) * 20 >= n)
        .agg(lit(n).as("n"), count(lit(1)).as("n_kept"),
          round(sum(col("c")).cast("double") / count(lit(1)) / 100.0, 6)
            .as("trimmed_mean"))
        .crossJoin(broadcast(raw))
        .select(col("n"), col("n_kept").cast("long").as("n_kept"),
          col("trimmed_mean"), col("raw_mean"))
    },

    // ---- Cramér's V: effect size for the priority × status
    //      contingency — the companion q_drift_chisq's raw χ² lacks
    //      (χ² grows with N; V is the [0,1] association strength that
    //      stays comparable across corpus sizes). Expected counts are
    //      exact rationals of the margins; χ² sums |cells| ≤ 15
    //      bounded addends in DECIMAL; V's sqrt is correctly rounded.
    QueryDef.checked(
      "q_cramers_v",
      """WITH t AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS n
        |  FROM orders GROUP BY 1, 2
        |), mar AS (
        |  SELECT a, sum(n) AS na FROM t GROUP BY a
        |), mbr AS (
        |  SELECT b, sum(n) AS nb FROM t GROUP BY b
        |), tot AS (
        |  SELECT sum(n) AS nt, count(DISTINCT a) AS ra,
        |    count(DISTINCT b) AS cb
        |  FROM t
        |), chi AS (
        |  SELECT CAST(sum(CAST(
        |      (t.n - CAST(m.na AS DOUBLE) * mb.nb / tt.nt)
        |      * (t.n - CAST(m.na AS DOUBLE) * mb.nb / tt.nt)
        |      / (CAST(m.na AS DOUBLE) * mb.nb / tt.nt)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
        |    max(tt.nt) AS nt, max(tt.ra) AS ra, max(tt.cb) AS cb
        |  FROM t
        |  JOIN mar m ON m.a = t.a
        |  JOIN mbr mb ON mb.b = t.b
        |  CROSS JOIN tot tt
        |)
        |SELECT CAST(nt AS BIGINT) AS n, CAST(ra AS INT) AS n_rows_dim,
        |  CAST(cb AS INT) AS n_cols_dim,
        |  round(chi2, 6) AS chi2,
        |  round(sqrt(chi2 / (nt * (least(ra, cb) - 1))), 6) AS cramers_v
        |FROM chi""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir).orders
        .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
        .agg(count(lit(1)).as("n"))
        .transform(localCheckpoint) // ≤15 cells; feeds margins + the chi2 sum
      val mar = t.groupBy("a").agg(sum(col("n")).as("na"))
      val mbr = t.groupBy("b").agg(sum(col("n")).as("nb"))
      val tot = t.agg(sum(col("n")).as("nt"),
        countDistinct(col("a")).as("ra"), countDistinct(col("b")).as("cb"))
      val e = col("na").cast("double") * col("nb") / col("nt")
      t.join(broadcast(mar), Seq("a")).join(broadcast(mbr), Seq("b"))
        .crossJoin(broadcast(tot))
        .agg(sum((((col("n") - e) * (col("n") - e)) / e)
          .cast("decimal(38,12)")).cast("double").as("chi2"),
          max(col("nt")).as("nt"), max(col("ra")).as("ra"),
          max(col("cb")).as("cb"))
        .select(col("nt").cast("long").as("n"),
          col("ra").cast("int").as("n_rows_dim"),
          col("cb").cast("int").as("n_cols_dim"),
          round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2") / (col("nt") * (least(col("ra"), col("cb"))
            - 1))), 6).as("cramers_v"))
    }
  )
}
