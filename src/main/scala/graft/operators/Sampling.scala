package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Deterministic sampling operators (training-data pipeline surface).
  *
  * `df.sample()` / TABLESAMPLE draw from a seeded RNG whose stream
  * depends on partition layout — unreproducible across engines and even
  * across partition counts. Pipelines that must be auditable (which
  * corpus rows fed which training run?) sample by CONTENT HASH instead:
  * keep the row iff `h(key) mod m < rate_stratum`. Same idea as
  * [[graft.operators.Extras]]' deterministic split, extended to
  * per-stratum rates (Spark's `sampleBy` semantics, made reproducible).
  *
  * At scale this is a stateless map-side filter — no shuffle, no RNG
  * state, pushdown-friendly — and the sample is stable under repartition,
  * retry, and engine swap.
  */
object Sampling {

  /** Per-domain document cap and its ranked relation — one definition
    * shared by [[q_domain_cap]] and the resample capstone so the cap
    * value and the ranking key live in exactly one place. */
  private[operators] val domainCap = 10

  private[operators] val duckCapRankCtes =
    """ranked_cap AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents
      |)""".stripMargin

  private[operators] def capRanked(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))))

  val defs: Seq[QueryDef] = Seq(

    // ---- stratified sample: 10% of 'en' docs, 50% of every other lang
    //      (downsample the dominant language — the classic corpus
    //      rebalancing move), keyed on md5(doc_id) so both engines pick
    //      the identical rows
    QueryDef.checked(
      "q_sample_stratified",
      """SELECT doc_id, lang
        |FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |    < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .filter(Dedup.md5h64(col("doc_id").cast("string")) % 100 <
          when(col("lang") === "en", 10).otherwise(50))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---- weighted sample without replacement (Efraimidis-Spirakis):
    //      each row draws u from its content hash and competes on
    //      key = ln(u)/w with w = n_chars — the top-k by key IS a
    //      w-weighted sample, computed as one scan + top-k (per-
    //      partition heaps, no shuffle of the corpus, no RNG state).
    //      Longer docs win proportionally more often; fully reproducible.
    QueryDef.checked(
      "q_weighted_sample",
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 1000000 + 1) / 1000001.0) / n_chars AS k
        |  FROM documents
        |)
        |SELECT doc_id, lang, n_chars, round(k, 9) AS sample_key
        |FROM keyed
        |ORDER BY k DESC, doc_id
        |LIMIT 100""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (log((Dedup.md5h64(col("doc_id").cast("string")) % 1000000 + 1)
            / lit(1000001.0)) / col("n_chars")).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("k"), 9).as("sample_key"))
    },

    // ---- per-domain cap: keep at most 10 docs per source (longest
    //      first) — the anti-hoarding rule crawl pipelines apply so no
    //      single domain dominates the mix. Rank-within-group + filter;
    //      the report shows the funnel per source. At scale the window
    //      shuffles on `source` — domain cardinality grows with the
    //      crawl, and a pathological mega-domain is exactly what the
    //      cap exists to bound (rank prunes past the cap early).
    QueryDef.checked(
      "q_domain_cap",
      s"""WITH $duckCapRankCtes
        |SELECT source, count(*) AS n_total,
        |  CAST(count(*) FILTER (WHERE rn <= $domainCap) AS BIGINT) AS n_kept,
        |  CAST(sum(n_chars) FILTER (WHERE rn <= $domainCap) AS BIGINT) AS kept_chars
        |FROM ranked_cap
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (spark, dir) =>
      capRanked(Tables(spark, dir).documents)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count(when(col("rn") <= domainCap, 1)).cast("long").as("n_kept"),
          sum(when(col("rn") <= domainCap, col("n_chars"))).cast("long")
            .as("kept_chars"))
        .orderBy("source")
    },

    // ---- global training-order shuffle: every epoch-ready corpus needs
    //      a reproducible random permutation sharded for the data
    //      loader. Order key = md5(doc_id) — content-derived, so the
    //      permutation survives repartition/retry/engine swap; shard =
    //      key mod 8; position = rank within shard by (key, doc_id).
    //      Deliberately NOT a global sort: at 100 TB the shard id is the
    //      shuffle key and each reducer sorts only its shard (hash
    //      values are uniform, so shards balance); a global row_number
    //      would serialize on one partition. Readers stream shard files
    //      in pos order and interleave round-robin — the standard
    //      approximation of a true global permutation at scale.
    QueryDef.checked(
      "q_global_shuffle",
      """WITH keyed AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents
        |)
        |SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INTEGER) AS pos
        |FROM keyed
        |ORDER BY shard, pos""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"),
          Dedup.md5h64(col("doc_id").cast("string")).as("h"))
        .withColumn("shard", col("h") % 8)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("shard").orderBy(col("h"), col("doc_id"))))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // ---- class-balanced downsampling: cap every language at the
    //      minority class's count by deterministic hash ranking (keep
    //      the n_min smallest md5 keys per class) — the rebalancing
    //      pass a classifier-training set runs after filtering. Unlike
    //      q_sample_stratified (fixed per-stratum FRACTION), the rate
    //      here is DERIVED from the class profile (1-row broadcast of
    //      the min count). Per-class output proves the equalization.
    //      Scale: one per-class window rank (shuffles on the class
    //      key); heavily skewed majority classes are exactly the rows
    //      the rank drops, and a pre-filter by an approx per-class
    //      quantile of the hash would skip even ranking them.
    QueryDef.checked(
      "q_class_balance",
      """WITH prof AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), m AS (
        |  SELECT min(n) AS n_min FROM prof
        |), ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT r.lang, p.n AS n_before,
        |  CAST(sum(CASE WHEN r.rk <= m.n_min THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  md5(string_agg(CASE WHEN r.rk <= m.n_min
        |    THEN CAST(r.doc_id AS VARCHAR) END, ',' ORDER BY r.doc_id))
        |    AS kept_sig
        |FROM ranked r JOIN prof p ON p.lang = r.lang, m
        |GROUP BY r.lang, p.n
        |ORDER BY r.lang""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      val prof = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val m = prof.agg(min(col("n")).as("n_min"))
      docs
        .select(col("lang"), col("doc_id"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
            .as("rk"))
        .join(broadcast(prof), Seq("lang"))
        .crossJoin(broadcast(m))
        .groupBy(col("lang"), col("n").as("n_before"))
        .agg(
          sum(when(col("rk") <= col("n_min"), 1).otherwise(0)).cast("long")
            .as("n_kept"),
          md5(expr("""concat_ws(',', transform(sort_array(collect_list(
            IF(rk <= n_min, struct(doc_id, CAST(doc_id AS STRING) AS ds),
               NULL))), s -> s.ds))""")).as("kept_sig"))
        .select(col("lang"), col("n_before"), col("n_kept"), col("kept_sig"))
        .orderBy("lang")
    },

    // ---- per-group reservoir (deterministic): exactly k=10 docs per
    //      language, selected by md5-rank — the keyed fixed-size sample
    //      (distinct from q_sample_stratified's fixed-FRACTION hash
    //      gate). The md5 order is a uniform permutation, so the first
    //      k of it IS a uniform k-reservoir, and reruns/backfills pick
    //      the same rows. Scale: rank-within-group is one shuffle on
    //      the group key; a hot group degrades to that group's sort,
    //      fixed by pre-aggregating a per-partition top-k (the
    //      TakeOrderedAndProject shape) before the global rank.
    QueryDef.checked(
      "q_grouped_reservoir",
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |)
        |SELECT lang, doc_id, CAST(rn AS INT) AS pick
        |FROM ranked WHERE rn <= 10
        |ORDER BY lang, pick""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables(spark, dir).documents
        .select(col("lang"), col("doc_id"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
            .as("rn"))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("doc_id"), col("rn").cast("int").as("pick"))
        .orderBy("lang", "pick")
    },

    // ---- Neyman allocation + largest-remainder apportionment: a 500-
    //      unit sample budget is split across market segments ∝ n_h·s_h
    //      (optimal stratified allocation), then made integer by
    //      Hamilton's method — floor every quota, hand the leftover
    //      seats to the largest remainders. Stddev comes from integer
    //      cents power sums via the same closed form on both engines,
    //      and IEEE sqrt/÷ are exactly rounded, so the quotas — and
    //      therefore the seat order — replay bit-identically. Windows
    //      run over the |strata| aggregate (bounded).
    QueryDef.checked(
      "q_neyman_allocation",
      """WITH s AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      AS s1,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
        |      * CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) AS s2
        |  FROM customer GROUP BY c_mktsegment
        |), wt AS (
        |  SELECT c_mktsegment, n,
        |    n * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS w
        |  FROM s
        |), quota AS (
        |  SELECT c_mktsegment, n, w,
        |    500 * w / sum(w) OVER () AS q
        |  FROM wt
        |), seats AS (
        |  SELECT c_mktsegment, n, q, floor(q) AS base,
        |    row_number() OVER (ORDER BY q - floor(q) DESC, c_mktsegment)
        |      AS rem_rank,
        |    500 - CAST(sum(floor(q)) OVER () AS BIGINT) AS leftover
        |  FROM quota
        |)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_members,
        |  round(q, 6) AS quota,
        |  CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM seats
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // |strata| rows: measured 5 @ sf0.01 AND sf0.1 (PlanProbe r7)
      val w5 = Window.partitionBy()
      val s = Tables(spark, dir).customer
        .select(col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("double").as("s1"),
          sum(col("cents") * col("cents")).cast("double").as("s2"))
      val quota = s
        .select(col("c_mktsegment"), col("n"),
          (col("n") * sqrt((col("s2") - col("s1") * col("s1") / col("n"))
            / (col("n") - 1))).as("w"))
        .withColumn("q", lit(500) * col("w") / sum(col("w")).over(w5))
      quota
        .withColumn("base", floor(col("q")))
        .withColumn("rem_rank", row_number().over(
          Window.orderBy((col("q") - floor(col("q"))).desc,
            col("c_mktsegment")))) // |strata| rows (5 at both scales)
        .withColumn("leftover",
          lit(500) - sum(floor(col("q"))).over(w5).cast("long"))
        .select(col("c_mktsegment"), col("n").as("n_members"),
          round(col("q"), 6).as("quota"),
          (col("base") + when(col("rem_rank") <= col("leftover"), 1L)
            .otherwise(0L)).cast("long").as("alloc"))
        .orderBy("c_mktsegment")
    },

    // ---- Horvitz-Thompson estimation from the unequal-probability
    //      sample: q_sample_stratified's deterministic md5 sample keeps
    //      en docs at π=0.10 and everything else at π=0.50; HT
    //      reweights each sampled doc by 1/π to estimate the total
    //      character mass per language, with the Bernoulli-design
    //      variance Σ(1−π)/π²·y² and a 95% CI — and the TRUE total
    //      beside it, so the estimator's coverage is checked output.
    //      The AQP primitive: at 100 TB the full scan is the thing you
    //      can't afford; the sample (partition-prunable by the hash
    //      digit) plus this reweighting answers SUM queries with
    //      calibrated error, and the oracle proves the arithmetic.
    QueryDef.checked(
      "q_ht_estimator",
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN lang = 'en' THEN 0.10 ELSE 0.50 END AS pi,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS h
        |  FROM documents
        |), s AS (
        |  SELECT lang, count(*) AS n_sampled,
        |    CAST(sum(CAST(n_chars / pi AS DECIMAL(38,12))) AS DOUBLE) AS est,
        |    CAST(sum(CAST((1 - pi) / (pi * pi) * n_chars * n_chars
        |      AS DECIMAL(38,12))) AS DOUBLE) AS v
        |  FROM d WHERE h < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |  GROUP BY lang
        |), t AS (
        |  SELECT lang, count(*) AS n_pop,
        |    CAST(sum(n_chars) AS BIGINT) AS true_total
        |  FROM d GROUP BY lang
        |)
        |SELECT t.lang, CAST(t.n_pop AS BIGINT) AS n_pop,
        |  CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  t.true_total,
        |  round(coalesce(s.est, 0.0), 6) AS ht_estimate,
        |  round(sqrt(coalesce(s.v, 0.0)), 6) AS se,
        |  coalesce(s.est, 0.0) - 1.96 * sqrt(coalesce(s.v, 0.0))
        |    <= t.true_total
        |  AND t.true_total
        |    <= coalesce(s.est, 0.0) + 1.96 * sqrt(coalesce(s.v, 0.0))
        |    AS ci_covers
        |FROM t LEFT JOIN s ON s.lang = t.lang
        |ORDER BY t.lang""".stripMargin) { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          when(col("lang") === "en", 0.10).otherwise(0.50).as("pi"),
          (Dedup.md5h64(col("doc_id").cast("string")) % 100).as("h"))
        .transform(localCheckpoint) // sample pass AND the truth pass share the scan
      val s = d
        .filter(col("h") < when(col("lang") === "en", 10).otherwise(50))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum((col("n_chars") / col("pi")).cast("decimal(38,12)"))
            .cast("double").as("est"),
          sum(((lit(1) - col("pi")) / (col("pi") * col("pi"))
            * col("n_chars") * col("n_chars")).cast("decimal(38,12)"))
            .cast("double").as("v"))
      val t = d.groupBy("lang")
        .agg(count(lit(1)).as("n_pop"),
          sum(col("n_chars")).cast("long").as("true_total"))
      val est = coalesce(col("est"), lit(0.0))
      val se = sqrt(coalesce(col("v"), lit(0.0)))
      t.join(s, Seq("lang"), "left")
        .select(col("lang"), col("n_pop").cast("long").as("n_pop"),
          coalesce(col("n_sampled"), lit(0L)).cast("long").as("n_sampled"),
          col("true_total"),
          round(est, 6).as("ht_estimate"),
          round(se, 6).as("se"),
          (est - lit(1.96) * se <= col("true_total")
            && col("true_total") <= est + lit(1.96) * se).as("ci_covers"))
        .orderBy("lang")
    }
  )
}
