package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Data-governance operators: the privacy-audit and evaluation-hygiene
  * checks a curation pipeline runs before a dataset ships — k-anonymity
  * / l-diversity over quasi-identifier groups, score-calibration
  * (reliability) bins for a propensity signal, and the time-ordered
  * train/validation split with an embargo gap (the "purged" split that
  * keeps temporally adjacent rows from leaking across the boundary).
  *
  * Scale stance (100 TB):
  *   - [[q_kanon_audit]] reduces the fact side FIRST: the sensitive
  *     attribute is deduplicated to distinct (entity, value) pairs —
  *     bounded by |entities| × |domain|, not fact rows — before the
  *     dimension join, so the audit's shuffle is entity-sized. The
  *     QI-group aggregate output is capped by the QI-domain product.
  *   - [[q_calibration]] decile-bins the fact-sized scored relation
  *     via [[graft.util.RangeRank]] (range-partitioned rank + driver
  *     bucket arithmetic) — no single-partition window; an
  *     approx_percentile range-binning is the cheaper alternative when
  *     exact equi-depth is not required.
  *   - [[q_purged_split]] derives its cut dates from a 2-row bounds
  *     aggregate broadcast back over the facts — one scan for bounds,
  *     one scan to label; no shuffle beyond the final per-split
  *     aggregate (3 output rows).
  *
  * Numeric discipline: group sizes and distinct counts are integers;
  * calibration means divide exact DECIMAL/INT sums as the last step
  * ([[Parity]] rules).
  */
object Governance {

  val defs: Seq[QueryDef] = Seq(

    // ---- k-anonymity + l-diversity audit: QI = (nation, segment,
    //      sign of balance); sensitive = order priority reached via
    //      the customer's orders. A group violates k-anon if fewer
    //      than 5 members share its QI, l-diversity if its members'
    //      orders expose fewer than 2 distinct priorities.
    QueryDef.checked(
      "q_kanon_audit",
      """WITH sens AS (
        |  SELECT DISTINCT o_custkey, o_orderpriority FROM orders
        |), qi AS (
        |  SELECT c.c_nationkey, c.c_mktsegment,
        |    c.c_acctbal >= 0 AS bal_pos,
        |    count(DISTINCT c.c_custkey) AS n_members,
        |    count(DISTINCT s.o_orderpriority) AS n_sensitive
        |  FROM customer c LEFT JOIN sens s ON s.o_custkey = c.c_custkey
        |  GROUP BY c.c_nationkey, c.c_mktsegment, c.c_acctbal >= 0
        |)
        |SELECT c_nationkey, c_mktsegment, bal_pos, n_members, n_sensitive,
        |  n_members < 5 AS k_violation,
        |  n_sensitive < 2 AS l_violation
        |FROM qi
        |ORDER BY c_nationkey, c_mktsegment, bal_pos""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      // fact-side reduction first: distinct (custkey, priority) pairs are
      // bounded by |customer| × 5 priorities, so the join input is
      // entity-sized no matter how many orders exist
      val sens = t.orders.select("o_custkey", "o_orderpriority").distinct()
      t.customer
        .join(sens, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          (col("c_acctbal") >= 0).as("bal_pos"))
        .agg(countDistinct(col("c_custkey")).as("n_members"),
          countDistinct(col("o_orderpriority")).as("n_sensitive"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("bal_pos"),
          col("n_members"), col("n_sensitive"),
          (col("n_members") < 5).as("k_violation"),
          (col("n_sensitive") < 2).as("l_violation"))
        .orderBy("c_nationkey", "c_mktsegment", "bal_pos")
    },

    // ---- reliability bins: decile-bin the event `value` as a
    //      propensity score, report per-bin mean score vs realized
    //      purchase rate (the calibration curve's input table).
    QueryDef.checked(
      "q_calibration",
      """WITH scored AS (
        |  SELECT event_id, CAST(value AS DECIMAL(12,2)) AS score,
        |    CAST(event_type = 'purchase' AS INT) AS pos
        |  FROM events
        |), binned AS (
        |  SELECT score, pos,
        |    ntile(10) OVER (ORDER BY score, event_id) AS bin
        |  FROM scored
        |)
        |SELECT bin, count(*) AS n,
        |  CAST(CAST(sum(score) AS DOUBLE) / count(*) AS DOUBLE) AS mean_score,
        |  CAST(CAST(sum(pos) AS DOUBLE) / count(*) AS DOUBLE) AS pos_rate
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
      // scale-safe exact ntile over the FACT-sized scored relation:
      // RangeRank (range partitions + per-partition rank + broadcast
      // offsets + driver bucket arithmetic) — the same shape as
      // q_range_partition_design; an approx_percentile range-binning is
      // the alternative when exact equi-depth is not required
      val scored = Tables(spark, dir).events
        .select(col("event_id"),
          col("value").cast("decimal(12,2)").as("score"),
          (col("event_type") === "purchase").cast("int").as("pos"))
      graft.util.RangeRank.withGlobalNtile(scored, "bin", 10,
          spark.sessionState.conf.numShufflePartitions,
          col("score"), col("event_id"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          (sum(col("score")).cast("double") / count(lit(1)))
            .cast("double").as("mean_score"),
          (sum(col("pos")).cast("double") / count(lit(1)))
            .cast("double").as("pos_rate"))
        .orderBy("bin")
    },

    // ---- purged temporal split: train < cut, a 7-day embargo dropped,
    //      validation after — per-split row counts and date coverage.
    //      The cut sits 70% through the observed date span (integer-day
    //      arithmetic on both sides).
    QueryDef.checked(
      "q_purged_split",
      """WITH b AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |    CAST(max(o_orderdate) AS DATE) AS d1
        |  FROM orders
        |), lab AS (
        |  SELECT CASE
        |      WHEN CAST(o_orderdate AS DATE) <
        |        d0 + CAST(date_diff('day', d0, d1) * 7 // 10 AS INT)
        |        THEN 'train'
        |      WHEN CAST(o_orderdate AS DATE) <
        |        d0 + CAST(date_diff('day', d0, d1) * 7 // 10 + 7 AS INT)
        |        THEN 'embargo'
        |      ELSE 'val' END AS split,
        |    CAST(o_orderdate AS DATE) AS d
        |  FROM orders, b
        |)
        |SELECT split, count(*) AS n, min(d) AS d_min, max(d) AS d_max
        |FROM lab GROUP BY split ORDER BY split""".stripMargin) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      // bounds: a 1-row aggregate cross-joined (broadcast) back over the
      // facts — the standard scalar-broadcast shape for derived cutoffs
      val b = orders.agg(
        to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1"))
      orders.crossJoin(broadcast(b))
        .select(to_date(col("o_orderdate")).as("d"),
          col("d0"), col("d1"))
        .withColumn("cut_days",
          expr("(datediff(d1, d0) * 7) div 10").cast("int"))
        .withColumn("split",
          when(col("d") < expr("date_add(d0, cut_days)"), "train")
            .when(col("d") < expr("date_add(d0, cut_days + 7)"), "embargo")
            .otherwise("val"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          min(col("d")).as("d_min"), max(col("d")).as("d_max"))
        .orderBy("split")
    },

    // ---- deterministic pseudonymization: the masked-clone projection
    //      (reference provisions fresh credentials for clones,
    //      clone_databases.sh:256-305 — the analytics twin is shipping
    //      a clone whose direct identifiers are masked). Keyed-hash
    //      pseudonyms keep joins working (same input → same pseudonym)
    //      while the balance generalizes to a 100-unit bucket. The
    //      order count per pseudonym proves referential consistency
    //      end-to-end. All derivations are integer/string (bal buckets
    //      from exact cents via `div`, [[Parity]] discipline) — no
    //      float formatting anywhere.
    QueryDef.checked(
      "q_mask_pseudonym",
      """SELECT
        |  concat('cust_', substring(md5(concat('salt42:',
        |    CAST(c_custkey AS VARCHAR))), 1, 12)) AS pseudonym,
        |  n_name AS nation,
        |  CAST((abs(CAST(round(c_acctbal * 100) AS BIGINT)) // 10000)
        |    * sign(CAST(round(c_acctbal * 100) AS BIGINT)) * 100
        |    AS BIGINT) AS bal_bucket,
        |  count(o_orderkey) AS n_orders
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3
        |ORDER BY pseudonym""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(broadcast(t.nation), col("n_nationkey") === col("c_nationkey"))
        .join(t.orders, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(
          concat(lit("cust_"), substring(md5(concat(lit("salt42:"),
            col("c_custkey").cast("string"))), 1, 12)).as("pseudonym"),
          col("n_name").as("nation"),
          (expr("CAST(round(c_acctbal * 100) AS BIGINT) div 10000") * 100)
            .as("bal_bucket"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("pseudonym")
    },

    // ---- retention / TTL purge plan: per calendar-day partition of
    //      the event log, how much is past the 10-day retention window
    //      (cutoff = max event time − 10 days, a 1-row broadcast bound)
    //      and the cheapest action — DROP the whole partition when all
    //      rows expired (a metadata delete at the target), REWRITE when
    //      mixed, KEEP when untouched. The plan output is
    //      |days|-sized; this is the artifact a 100 TB purge job
    //      executes partition-by-partition.
    QueryDef.checked(
      "q_retention_purge",
      """WITH b AS (SELECT max(ts) AS mx FROM events),
        |lab AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    ts < mx - INTERVAL 10 DAY AS expired
        |  FROM events, b
        |)
        |SELECT day, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_expired,
        |  CASE
        |    WHEN sum(CASE WHEN expired THEN 1 ELSE 0 END) = count(*)
        |      THEN 'drop_partition'
        |    WHEN sum(CASE WHEN expired THEN 1 ELSE 0 END) > 0
        |      THEN 'rewrite'
        |    ELSE 'keep' END AS action
        |FROM lab
        |GROUP BY day
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val b = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(b))
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (col("ts") < expr("mx - INTERVAL 10 DAYS")).as("expired"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("expired"), 1).otherwise(0)).cast("long")
            .as("n_expired"))
        .select(col("day"), col("n_rows"), col("n_expired"),
          when(col("n_expired") === col("n_rows"), "drop_partition")
            .when(col("n_expired") > 0, "rewrite")
            .otherwise("keep").as("action"))
        .orderBy("day")
    },

    // ---- GDPR erasure cascade: given a subject set (every 37th
    //      customer), count what a right-to-be-forgotten pass would
    //      delete across the FK graph — orders via custkey, line items
    //      via the affected order keys — reported per nation. The
    //      subject set broadcasts (erasure batches are tiny vs facts);
    //      each hop is one keyed join, and all outputs are exact
    //      integer counts, aggregated per nation BEFORE the 3-way
    //      assembly join so nothing fans out.
    QueryDef.checked(
      "q_gdpr_cascade",
      """WITH subj AS (
        |  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 37 = 0
        |), ns AS (
        |  SELECT c_nationkey, count(*) AS n_subjects FROM subj GROUP BY 1
        |), no_ AS (
        |  SELECT c_nationkey, count(*) AS n_orders
        |  FROM subj JOIN orders ON o_custkey = c_custkey GROUP BY 1
        |), nl AS (
        |  SELECT c_nationkey, count(*) AS n_lineitems
        |  FROM subj JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1
        |)
        |SELECT n_name AS nation, ns.n_subjects,
        |  coalesce(no_.n_orders, CAST(0 AS BIGINT)) AS n_orders,
        |  coalesce(nl.n_lineitems, CAST(0 AS BIGINT)) AS n_lineitems
        |FROM ns
        |JOIN nation ON n_nationkey = ns.c_nationkey
        |LEFT JOIN no_ ON no_.c_nationkey = ns.c_nationkey
        |LEFT JOIN nl ON nl.c_nationkey = ns.c_nationkey
        |ORDER BY nation""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val subj = t.customer.filter(col("c_custkey") % 37 === 0)
        .select("c_custkey", "c_nationkey")
        .transform(localCheckpoint) // three consumers, keep the scan one-shot
      val ns = subj.groupBy("c_nationkey").agg(count(lit(1)).as("n_subjects"))
      val ords = t.orders.join(broadcast(subj),
        col("o_custkey") === col("c_custkey"))
      val no = ords.groupBy("c_nationkey").agg(count(lit(1)).as("n_orders"))
      val nl = t.lineitem.join(
          ords.select("c_nationkey", "o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_lineitems"))
      ns.join(broadcast(t.nation),
          col("n_nationkey") === col("c_nationkey"))
        .join(no, Seq("c_nationkey"), "left")
        .join(nl, Seq("c_nationkey"), "left")
        .select(col("n_name").as("nation"), col("n_subjects"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"))
        .orderBy("nation")
    },

    // ---- differentially-private release: per (lang, source) doc counts
    //      with Laplace(1/ε) noise, ε=1 per cell. The noise draw is a
    //      DETERMINISTIC hash-uniform (seeded release, reproducible
    //      audits); production swaps in a true RNG — the plumbing
    //      (sensitivity-1 count, per-cell budget, inverse-CDF transform)
    //      is identical. Noise is added POST-aggregation, so the pass is
    //      one groupBy regardless of corpus size; the true count never
    //      leaves the engine.
    QueryDef.checked(
      "q_dp_counts",
      """WITH agg AS (
        |  SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source
        |), noise AS (
        |  SELECT lang, source, c,
        |    -- hash-uniform u in (-0.5, 0.5), exclusive of the endpoints
        |    (CAST(concat('0x', substring(md5(concat(lang, '|', source)), 1, 8))
        |        AS BIGINT) % 1000000 + 0.5) / 1000000.0 - 0.5 AS u
        |  FROM agg
        |)
        |SELECT lang, source,
        |  round(c + (CASE WHEN u >= 0 THEN -1.0 ELSE 1.0 END)
        |    * ln(1.0 - 2.0 * abs(u)), 6) AS noisy_count,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM noise
        |ORDER BY lang, source""".stripMargin) { (spark, dir) =>
      val u = ((conv(substring(md5(concat(col("lang"), lit("|"), col("source"))), 1, 8),
        16, 10).cast("long") % 1000000 + lit(0.5)) / lit(1000000.0)) - lit(0.5)
      Tables(spark, dir).documents
        .groupBy("lang", "source").agg(count(lit(1)).as("c"))
        .withColumn("u", u)
        .select(col("lang"), col("source"),
          round(col("c") + (when(col("u") >= 0, lit(-1.0)).otherwise(lit(1.0)))
            * log(lit(1.0) - lit(2.0) * abs(col("u"))), 6).as("noisy_count"),
          lit(1.0).as("epsilon"))
        .orderBy("lang", "source")
    },

    // ---- inter-rater agreement (Fleiss κ, 3 raters × 2 categories):
    //      three deterministic heuristic "raters" vote keep/drop per
    //      doc; κ is the chance-corrected agreement per language — the
    //      labeling-quality gate run before heuristics are trusted as
    //      silver labels. Everything up to the final κ division is
    //      integer (vote counts and pair-agreement numerators), so the
    //      aggregate is partition-proof; the two divisions happen once
    //      per output row.
    QueryDef.checked(
      "q_rater_kappa",
      """WITH votes AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) >= 40 AS INT)
        |    + CAST(len(list_distinct(string_split(text, ' '))) * 4
        |           >= len(string_split(text, ' ')) AS INT)
        |    + CAST(length(text) < 520 AS INT) AS k
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(k) AS BIGINT) AS keep_votes,
        |  -- P̄: mean per-doc pair agreement, (k² + (3-k)² - 3) / 6
        |  round(sum(k * k + (3 - k) * (3 - k) - 3) / (count(*) * 6.0), 6)
        |    AS p_bar,
        |  round((
        |    sum(k * k + (3 - k) * (3 - k) - 3) / (count(*) * 6.0)
        |    - ((sum(k) / (count(*) * 3.0)) * (sum(k) / (count(*) * 3.0))
        |       + (1.0 - sum(k) / (count(*) * 3.0)) * (1.0 - sum(k) / (count(*) * 3.0)))
        |  ) / (1.0 - ((sum(k) / (count(*) * 3.0)) * (sum(k) / (count(*) * 3.0))
        |       + (1.0 - sum(k) / (count(*) * 3.0)) * (1.0 - sum(k) / (count(*) * 3.0)))), 6) AS kappa
        |FROM votes GROUP BY lang
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val toks = split(col("text"), " ")
      val votes = Tables(spark, dir).documents
        .select(col("lang"),
          ((size(toks) >= 40).cast("int")
            + (size(array_distinct(toks)) * 4 >= size(toks)).cast("int")
            + (length(col("text")) < 520).cast("int")).as("k"))
      val pBar = sum(col("k") * col("k") + (lit(3) - col("k")) * (lit(3) - col("k"))
        - lit(3)) / (count(lit(1)) * lit(6.0))
      val pKeep = sum(col("k")) / (count(lit(1)) * lit(3.0))
      val pe = pKeep * pKeep + (lit(1.0) - pKeep) * (lit(1.0) - pKeep)
      votes.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("k")).cast("long").as("keep_votes"),
          round(pBar, 6).as("p_bar"),
          round((pBar - pe) / (lit(1.0) - pe), 6).as("kappa"))
        .orderBy("lang")
    },

    // ---- k-anonymity generalization ladder: coarsen the QI step by
    //      step (nation+segment+sign → nation+segment → region+segment
    //      → segment) and report, per level, the violating groups and
    //      how many records suppression would cost — then flag the
    //      MINIMAL level where every group reaches k ≥ 5 (the
    //      generalize-vs-suppress tradeoff an anonymization pass
    //      actually decides). One entity-bounded scan; each level is a
    //      keyed aggregate of it; the chooser window runs over 4 rows.
    QueryDef.checked(
      "q_kanon_ladder",
      """WITH qi AS (
        |  SELECT c.c_custkey, c.c_nationkey, n.n_regionkey, c.c_mktsegment,
        |    c.c_acctbal >= 0 AS bal_pos
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |), sizes AS (
        |  SELECT 0 AS level, count(*) AS n FROM qi
        |    GROUP BY c_nationkey, c_mktsegment, bal_pos
        |  UNION ALL SELECT 1, count(*) FROM qi
        |    GROUP BY c_nationkey, c_mktsegment
        |  UNION ALL SELECT 2, count(*) FROM qi
        |    GROUP BY n_regionkey, c_mktsegment
        |  UNION ALL SELECT 3, count(*) FROM qi GROUP BY c_mktsegment
        |), lvl AS (
        |  SELECT level, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(min(n) AS BIGINT) AS min_size,
        |    CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |      AS n_suppressed
        |  FROM sizes GROUP BY level
        |)
        |SELECT level, n_groups, min_size, n_violations, n_suppressed,
        |  coalesce(level = min(CASE WHEN n_violations = 0 THEN level END)
        |    OVER (), false) AS is_chosen
        |FROM lvl ORDER BY level""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val qi = t.customer
        .join(broadcast(t.nation.select("n_nationkey", "n_regionkey")),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_nationkey"), col("n_regionkey"), col("c_mktsegment"),
          (col("c_acctbal") >= 0).as("bal_pos"))
        .transform(localCheckpoint) // four level aggregates of one scan
      def level(l: Int, keys: String*) = qi.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n")).select(lit(l).as("level"), col("n"))
      val sizes = level(0, "c_nationkey", "c_mktsegment", "bal_pos")
        .union(level(1, "c_nationkey", "c_mktsegment"))
        .union(level(2, "n_regionkey", "c_mktsegment"))
        .union(level(3, "c_mktsegment"))
      val lvl = sizes.groupBy("level")
        .agg(count(lit(1)).as("n_groups"), min(col("n")).as("min_size"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_violations"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_suppressed"))
      // 4-row chooser window (bounded by the ladder's level count):
      // measured 4 @ sf0.01 AND sf0.1 (PlanProbe r7)
      lvl.withColumn("is_chosen", coalesce(
          col("level") === min(when(col("n_violations") === 0, col("level")))
            .over(org.apache.spark.sql.expressions.Window.partitionBy()),
          lit(false)))
        .orderBy("level")
    },

    // ---- l-diversity audit (the attribute-disclosure follow-up to the
    //      k-anonymity checks): per (nation, segment) quasi-identifier
    //      group, how many DISTINCT sensitive values (account-balance
    //      band) appear, plus entropy l-diversity. A k-anonymous group
    //      whose members all share one balance band still leaks the
    //      balance — l_distinct/entropy is what catches that. One
    //      (QI, band) aggregate then a QI-sized rollup; the per-group
    //      entropy window runs over ≤ |bands| rows.
    QueryDef.checked(
      "q_l_diversity",
      """WITH t AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS INT) AS band
        |  FROM customer
        |), gb AS (
        |  SELECT c_nationkey, c_mktsegment, band, count(*) AS n
        |  FROM t GROUP BY 1, 2, 3
        |), p AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    CAST(n AS DOUBLE)
        |      / sum(n) OVER (PARTITION BY c_nationkey, c_mktsegment) AS pr
        |  FROM gb
        |), g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS k_size,
        |    CAST(count(*) AS BIGINT) AS l_distinct,
        |    round(-sum(pr * ln(pr)), 6) AS entropy_l
        |  FROM p GROUP BY c_nationkey, c_mktsegment
        |)
        |SELECT c_nationkey, c_mktsegment, k_size, l_distinct, entropy_l,
        |  l_distinct >= 3 AS meets_l3
        |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val gb = Tables(spark, dir).customer
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 2000) AS INT)").as("band"))
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("n"))
      gb
        .withColumn("pr", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("c_nationkey", "c_mktsegment")))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(col("n")).cast("long").as("k_size"),
          count(lit(1)).cast("long").as("l_distinct"),
          round(-sum(col("pr") * log(col("pr"))), 6).as("entropy_l"))
        .withColumn("meets_l3", col("l_distinct") >= 3)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- t-closeness audit: ordered earth-mover's distance between
    //      each QI group's balance-band distribution and the global one
    //      (EMD over an ordered attribute = mean |cumulative
    //      difference|). Both distributions are bounded relations
    //      (|QI groups| × |bands| grid built by a broadcast cross join);
    //      the running-sum window is per-group over ≤ |bands| rows, so
    //      nothing here scales with the fact table beyond the first
    //      aggregate.
    QueryDef.checked(
      "q_t_closeness",
      """WITH t AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS INT) AS band
        |  FROM customer
        |), gb AS (
        |  SELECT c_nationkey, c_mktsegment, band, count(*) AS n
        |  FROM t GROUP BY 1, 2, 3
        |), gt AS (
        |  SELECT c_nationkey, c_mktsegment, sum(n) AS gn FROM gb GROUP BY 1, 2
        |), gdist AS (
        |  SELECT band, count(*) AS n FROM t GROUP BY band
        |), gtot AS (
        |  SELECT sum(n) AS nt, count(*) AS m FROM gdist
        |), grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, b.band,
        |    COALESCE(gb.n, 0) / CAST(g.gn AS DOUBLE)
        |      - b.n / CAST(t2.nt AS DOUBLE) AS diff
        |  FROM gt g CROSS JOIN gdist b CROSS JOIN gtot t2
        |  LEFT JOIN gb ON gb.c_nationkey = g.c_nationkey
        |    AND gb.c_mktsegment = g.c_mktsegment AND gb.band = b.band
        |), cd AS (
        |  SELECT c_nationkey, c_mktsegment, band,
        |    sum(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY band) AS c
        |  FROM grid
        |), emd AS (
        |  SELECT c_nationkey, c_mktsegment, sum(abs(c)) AS s, count(*) AS m
        |  FROM cd GROUP BY 1, 2
        |)
        |SELECT c_nationkey, c_mktsegment, round(s / (m - 1), 6) AS t_emd,
        |  s / (m - 1) <= 0.2 AS meets_t02
        |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir).customer
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 2000) AS INT)").as("band"))
        .transform(localCheckpoint) // group and global distributions of one scan
      val gb = t.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("n"))
      val gt = gb.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(col("n")).as("gn"))
      val gdist = t.groupBy("band").agg(count(lit(1)).as("gbn"))
      val gtot = gdist.agg(sum(col("gbn")).as("nt"), count(lit(1)).as("m"))
      val grid = gt
        .crossJoin(broadcast(gdist))
        .crossJoin(broadcast(gtot))
        .join(gb, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .select(col("c_nationkey"), col("c_mktsegment"), col("band"),
          (coalesce(col("n"), lit(0)) / col("gn").cast("double")
            - col("gbn") / col("nt").cast("double")).as("diff"))
      grid
        .withColumn("c", sum(col("diff")).over(
          Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("band")))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(abs(col("c"))).as("s"), count(lit(1)).as("m"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          round(col("s") / (col("m") - 1), 6).as("t_emd"),
          (col("s") / (col("m") - 1) <= 0.2).as("meets_t02"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- USER-level DP release (the q_dp_counts upgrade): bound each
    //      user's contribution to C = 3 events per type (rank within
    //      (user, type), keep the 3 earliest — a per-user window, never
    //      global), then publish clipped counts with deterministic
    //      Laplace noise scaled to the sensitivity C. Event-level DP
    //      protects rows; user-level protects people — contribution
    //      bounding is what makes ε mean anything when one user can emit
    //      thousands of events. Noise uses the same hash-uniform inverse-
    //      CDF construction as q_dp_counts (u from md5, b = C/ε).
    QueryDef.checked(
      "q_dp_user_clip",
      """WITH ranked AS (
        |  SELECT event_type, user_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |), agg AS (
        |  SELECT event_type, count(*) AS raw_n,
        |    sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS clipped_n
        |  FROM ranked GROUP BY event_type
        |), noise AS (
        |  SELECT event_type, raw_n, clipped_n,
        |    (CAST(concat('0x', substring(md5(event_type), 1, 8)) AS BIGINT)
        |      % 1000000 + 0.5) / 1000000.0 - 0.5 AS u
        |  FROM agg
        |)
        |SELECT event_type, CAST(raw_n AS BIGINT) AS raw_n,
        |  CAST(clipped_n AS BIGINT) AS clipped_n,
        |  CAST(raw_n - clipped_n AS BIGINT) AS n_clipped_away,
        |  round(clipped_n + (CASE WHEN u >= 0 THEN -1.0 ELSE 1.0 END)
        |    * 3.0 * ln(1.0 - 2.0 * abs(u)), 6) AS noisy_count,
        |  CAST(3 AS INT) AS sensitivity
        |FROM noise ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ranked = Tables(spark, dir).events
        .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "event_type")
            .orderBy("ts", "event_id")))
      val agg = ranked.groupBy("event_type")
        .agg(count(lit(1)).as("raw_n"),
          sum(when(col("rn") <= 3, 1).otherwise(0)).as("clipped_n"))
      val u = ((conv(substring(md5(col("event_type")), 1, 8), 16, 10)
        .cast("long") % 1000000 + lit(0.5)) / lit(1000000.0)) - lit(0.5)
      agg.withColumn("u", u)
        .select(col("event_type"),
          col("raw_n").cast("long").as("raw_n"),
          col("clipped_n").cast("long").as("clipped_n"),
          (col("raw_n") - col("clipped_n")).cast("long").as("n_clipped_away"),
          round(col("clipped_n")
            + (when(col("u") >= 0, lit(-1.0)).otherwise(lit(1.0)))
              * lit(3.0) * log(lit(1.0) - lit(2.0) * abs(col("u"))), 6)
            .as("noisy_count"),
          lit(3).as("sensitivity"))
        .orderBy("event_type")
    }
  )
}
