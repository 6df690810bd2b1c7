package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Data profiling, quality gates, and table-maintenance planning — the
  * governance surface a warehouse runs over cloned/ingested tables
  * before analytics trusts them. The reference validates clones only by
  * row-count spot checks (`clone_databases.sh:933-937` insert+delete
  * probe); this wave is that idea grown into the standard toolkit:
  * ANALYZE-style column statistics, declarative data-quality
  * expectations, distribution forensics (Benford), robust outlier
  * flags (MAD), and small-file compaction planning.
  *
  * Scale stance (100 TB):
  *   - [[q_column_stats]] and [[q_dq_expectations]] are each ONE full
  *     scan producing a constant-size aggregate row that is then
  *     unpivoted driver-free (`stack` generator / UNION ALL from a
  *     CTE) — no per-column rescans, no collect. At 100 TB the exact
  *     `count(DISTINCT)` in column stats becomes
  *     `approx_count_distinct` (HLL, one pass, mergeable); the exact
  *     form is kept here because the oracle gate hash-compares values.
  *   - [[q_markov_transitions]], [[q_interevent_gaps]]: one shuffle on
  *     user_id (the window), then a low-cardinality re-aggregation —
  *     the same two-stage shape as sessionization.
  *   - [[q_pareto_front]] is the window formulation of skyline (sort +
  *     running max) — NOT the O(n²) dominance self-join — run as two
  *     passes: a bucket-local frontier (partition-parallel, discards
  *     ~everything) then the exact global window over the surviving
  *     candidates only, so no full-relation single-partition sort
  *     exists; ties on (price,size) keep the lowest partkey by contract.
  *   - [[q_compaction_plan]] plans bins from per-file aggregates
  *     (file count ≪ row count); the running-sum window over the file
  *     list is a metadata-sized sort, exactly how table services
  *     (OPTIMIZE/rewrite_data_files) plan rewrites.
  *   - [[q_url_canonicalize]] is per-row regex work (codegen'd, no
  *     shuffle) followed by one hash aggregation on the canonical key —
  *     the URL-collapse pass crawl pipelines run before content dedup.
  *
  * Numeric discipline (Parity.scala house rules): ratios divide exact
  * integer counts in double; Benford's expected shares are 6-dp literal
  * constants in BOTH engines (no transcendental drift); medians
  * interpolate identically (exact `median` both sides); raw 2-decimal
  * doubles pass through unrounded.
  */
object Profiling {

  /** Compaction target size (chars) — test-scaled stand-in for the
    * 128 MB–1 GB file-size targets real table services use. */
  val CompactTarget = 60000L

  val defs: Seq[QueryDef] = Seq(

    // ---- ANALYZE-style column statistics: one scan of orders, one
    //      constant-width aggregate row, unpivoted to a row per column.
    //      (Profiled columns are the format-stable ones: integers and
    //      ASCII strings render identically in both engines; doubles/
    //      timestamps are profiled by the numeric stats operators.)
    QueryDef.checked(
      "q_column_stats",
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS ndv1,
        |    CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
        |    round(sum(len(CAST(o_orderkey AS VARCHAR))) * 1.0 / count(o_orderkey), 6) AS al1,
        |    count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS ndv2,
        |    CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
        |    round(sum(len(CAST(o_custkey AS VARCHAR))) * 1.0 / count(o_custkey), 6) AS al2,
        |    count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS ndv3,
        |    min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
        |    round(sum(len(o_orderstatus)) * 1.0 / count(o_orderstatus), 6) AS al3,
        |    count(o_orderpriority) AS nn4, count(DISTINCT o_orderpriority) AS ndv4,
        |    min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4,
        |    round(sum(len(o_orderpriority)) * 1.0 / count(o_orderpriority), 6) AS al4
        |  FROM orders
        |)
        |SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_null,
        |  ndv1 AS ndv, mn1 AS min_val, mx1 AS max_val, al1 AS avg_len FROM a
        |UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, ndv2, mn2, mx2, al2 FROM a
        |UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn3, ndv3, mn3, mx3, al3 FROM a
        |UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn4, ndv4, mn4, mx4, al4 FROM a
        |ORDER BY col_name""".stripMargin) { (spark, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        val v = col(c).cast("string")
        Seq(count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"ndv_$c"),
          // min/max in the column's NATIVE order, stringified after —
          // a string-cast max would order longs lexicographically
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c"),
          round(sum(length(v)) * lit(1.0) / count(col(c)), 6).as(s"al_$c"))
      }
      val stackArgs = cols.map(c =>
        s"'$c', nn_$c, ndv_$c, mn_$c, mx_$c, al_$c").mkString(", ")
      // spread before the aggregate: 4 countDistincts EXPAND the scan
      // 5x, and the one-split orders scan would run that whole partial
      // aggregation in a single task (Tables.spread contract)
      Tables.spread(Tables(spark, dir).orders.select(cols.map(col): _*))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n_rows"), expr(
          s"stack(${cols.size}, $stackArgs) AS (col_name, nn, ndv, min_val, max_val, avg_len)"))
        .select(col("col_name"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_null"),
          col("ndv"), col("min_val"), col("max_val"), col("avg_len"))
        .orderBy("col_name")
    },

    // ---- declarative data-quality expectations (Deequ-style): a rule
    //      set evaluated in ONE scan; severity thresholds compare
    //      integers (n_fail*100 vs n_rows), never float rates.
    QueryDef.checked(
      "q_dq_expectations",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS f_null,
        |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS f_qty,
        |    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS f_disc,
        |    sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS f_flag,
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS f_uniq,
        |    sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS f_price
        |  FROM lineitem
        |), r AS (
        |  SELECT 'shipdate_not_null' AS rule, n, f_null AS n_fail FROM a
        |  UNION ALL SELECT 'quantity_in_1_50', n, f_qty FROM a
        |  UNION ALL SELECT 'discount_in_0_0.1', n, f_disc FROM a
        |  UNION ALL SELECT 'returnflag_domain', n, f_flag FROM a
        |  UNION ALL SELECT 'orderkey_line_unique', n, f_uniq FROM a
        |  UNION ALL SELECT 'extendedprice_positive', n, f_price FROM a
        |)
        |SELECT rule, n AS n_rows, CAST(n_fail AS BIGINT) AS n_fail,
        |  round((n - n_fail) * 1.0 / n, 6) AS pass_rate,
        |  CASE WHEN n_fail = 0 THEN 'PASS'
        |       WHEN n_fail * 100 <= n THEN 'WARN' ELSE 'FAIL' END AS status
        |FROM r ORDER BY rule""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).lineitem
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("f_null"),
          sum(when(col("l_quantity").between(1, 50), 0).otherwise(1)).as("f_qty"),
          sum(when(col("l_discount").between(0.0, 0.1), 0).otherwise(1)).as("f_disc"),
          sum(when(col("l_returnflag").isin("A", "N", "R"), 0).otherwise(1)).as("f_flag"),
          (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("f_uniq"),
          sum(when(col("l_extendedprice") > 0, 0).otherwise(1)).as("f_price"))
        .select(col("n"), expr(
          """stack(6,
            |  'shipdate_not_null', f_null,
            |  'quantity_in_1_50', f_qty,
            |  'discount_in_0_0.1', f_disc,
            |  'returnflag_domain', f_flag,
            |  'orderkey_line_unique', f_uniq,
            |  'extendedprice_positive', f_price) AS (rule, n_fail)""".stripMargin))
        .select(col("rule"), col("n").as("n_rows"),
          col("n_fail").cast("long").as("n_fail"),
          round((col("n") - col("n_fail")) * lit(1.0) / col("n"), 6).as("pass_rate"),
          when(col("n_fail") === 0, "PASS")
            .when(col("n_fail") * 100 <= col("n"), "WARN")
            .otherwise("FAIL").as("status"))
        .orderBy("rule")
    },

    // ---- first-order Markov transition matrix over per-user event
    //      sequences — the "what happens after X" model behind
    //      next-action prediction and anomalous-flow detection.
    QueryDef.checked(
      "q_markov_transitions",
      """WITH seq AS (
        |  SELECT lag(event_type) OVER w AS prev_type, event_type AS next_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), pairs AS (
        |  SELECT prev_type, next_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, next_type
        |)
        |SELECT prev_type, next_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM pairs
        |ORDER BY prev_type, next_type""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wp = Window.partitionBy("prev_type")
      Tables(spark, dir).events
        .select(lag(col("event_type"), 1).over(w).as("prev_type"),
          col("event_type").as("next_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .select(col("prev_type"), col("next_type"), col("n"),
          sum(col("n")).over(wp).cast("long").as("n_from"),
          round(col("n") * lit(1.0) / sum(col("n")).over(wp), 6).as("p"))
        .orderBy("prev_type", "next_type")
    },

    // ---- Pareto frontier (skyline): cheapest-for-the-size parts —
    //      minimize p_retailprice, maximize p_size. Window running-max
    //      formulation, not the quadratic dominance join; (price,size)
    //      ties resolve to the lowest partkey by contract.
    QueryDef.checked(
      "q_pareto_front",
      """WITH ranked AS (
        |  SELECT p_partkey, p_retailprice, p_size,
        |    max(p_size) OVER (ORDER BY p_retailprice, p_size DESC, p_partkey
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_size_before
        |  FROM part
        |)
        |SELECT p_partkey, p_retailprice, p_size
        |FROM ranked
        |WHERE p_size > coalesce(best_size_before, -1)
        |ORDER BY p_retailprice, p_partkey""".stripMargin) { (spark, dir) =>
      // Two-pass skyline: a LOCAL frontier inside each price bucket runs
      // partition-parallel and discards almost everything; the exact
      // global window then sees only the few survivors (sum of local
      // fronts), so no full-relation single-partition sort exists. The
      // local pass is a pure superset-filter: a row dominated within its
      // bucket is dominated globally, and survivors are re-checked, so
      // the result is identical to the oracle's one-window form.
      val localW = Window.partitionBy("price_bucket")
        .orderBy(col("p_retailprice"), col("p_size").desc, col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // the exact global pass sees only local-front survivors: measured
      // 4 rows @ sf0.01, 2 @ sf0.1 (PlanProbe r7) — bounded by
      // |price buckets| × |distinct sizes|, both fixed domains
      val globalW = Window
        .orderBy(col("p_retailprice"), col("p_size").desc, col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(spark, dir).part
        .withColumn("price_bucket", floor(col("p_retailprice") / 100.0))
        .withColumn("local_best", max(col("p_size")).over(localW))
        .filter(col("p_size") > coalesce(col("local_best"), lit(-1)))
        .withColumn("best_size_before", max(col("p_size")).over(globalW))
        .filter(col("p_size") > coalesce(col("best_size_before"), lit(-1)))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    },

    // ---- Benford first-digit profile of order totals: observed digit
    //      shares vs the log10(1+1/d) law, with per-digit chi-square
    //      contributions. Expected shares are 6-dp literals in BOTH
    //      engines — no transcendental evaluation to drift. The digit
    //      comes from integer cents, never from float formatting.
    QueryDef.checked(
      "q_benford",
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice > 0
        |), c AS (
        |  SELECT digit, count(*) AS n FROM d GROUP BY digit
        |), e AS (
        |  SELECT digit, n,
        |    CAST(CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |      WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
        |      WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |      ELSE 0.045757 END AS DOUBLE) AS exp_share,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot
        |  FROM c
        |)
        |SELECT digit, n, round(n * 1.0 / tot, 6) AS obs_share, exp_share,
        |  round((n - exp_share * tot) * (n - exp_share * tot)
        |        / (exp_share * tot), 6) AS chi2_part
        |FROM e ORDER BY digit""".stripMargin) { (spark, dir) =>
      val expShare = when(col("digit") === 1, 0.301030)
        .when(col("digit") === 2, 0.176091).when(col("digit") === 3, 0.124939)
        .when(col("digit") === 4, 0.096910).when(col("digit") === 5, 0.079181)
        .when(col("digit") === 6, 0.066947).when(col("digit") === 7, 0.057992)
        .when(col("digit") === 8, 0.051153).otherwise(0.045757)
      Tables(spark, dir).orders
        .filter(col("o_totalprice") > 0)
        .select(substring(round(col("o_totalprice") * 100)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("exp_share", expShare)
        // global window over the digit table: measured 9 rows @ sf0.01 AND
        // sf0.1 (PlanProbe r7) — first digits, constant
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()).cast("long"))
        .select(col("digit"), col("n"),
          round(col("n") * lit(1.0) / col("tot"), 6).as("obs_share"),
          col("exp_share"),
          round((col("n") - col("exp_share") * col("tot")) *
            (col("n") - col("exp_share") * col("tot")) /
            (col("exp_share") * col("tot")), 6).as("chi2_part"))
        .orderBy("digit")
    },

    // ---- compaction planning: treat per-source document payloads as
    //      "files", largest-first, and cut target-sized rewrite bins
    //      with a running-sum window over the (metadata-sized) file
    //      list — the planning half of OPTIMIZE / rewrite_data_files.
    QueryDef.checked(
      "q_compaction_plan",
      s"""WITH files AS (
         |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS size_chars
         |  FROM documents GROUP BY source
         |), planned AS (
         |  SELECT source, size_chars,
         |    coalesce(sum(size_chars) OVER (ORDER BY size_chars DESC, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // ${CompactTarget} AS bin
         |  FROM files
         |)
         |SELECT source, size_chars, CAST(bin AS BIGINT) AS bin,
         |  CAST(count(*) OVER (PARTITION BY bin) AS BIGINT) AS bin_files,
         |  CAST(sum(size_chars) OVER (PARTITION BY bin) AS BIGINT) AS bin_chars
         |FROM planned
         |ORDER BY bin, size_chars DESC, source""".stripMargin) { (spark, dir) =>
      // global window over the per-source aggregate: measured 20 rows @
      // sf0.01 AND sf0.1 (PlanProbe r7) — |sources| is a corpus constant
      val wOrd = Window.orderBy(col("size_chars").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBin = Window.partitionBy("bin")
      Tables(spark, dir).documents
        .groupBy("source")
        .agg(sum(col("n_chars")).cast("long").as("size_chars"))
        .withColumn("bin", expr(
          s"coalesce(sum(size_chars) OVER (ORDER BY size_chars DESC, source " +
            s"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div $CompactTarget"))
        .select(col("source"), col("size_chars"), col("bin").cast("long").as("bin"),
          count(lit(1)).over(wBin).cast("long").as("bin_files"),
          sum(col("size_chars")).over(wBin).cast("long").as("bin_chars"))
        .orderBy(col("bin"), col("size_chars").desc, col("source"))
    },

    // ---- robust outliers: per-event-type median absolute deviation;
    //      flag |value − median| > 3·MAD. Exact interpolated medians on
    //      identical doubles both sides; the flag compares identically
    //      computed IEEE values.
    QueryDef.checked(
      "q_mad_outliers",
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |), mad AS (
        |  SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type
        |)
        |SELECT d.event_type, count(*) AS n,
        |  round(max(d.med), 6) AS median_value, round(max(m.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |GROUP BY d.event_type
        |ORDER BY d.event_type""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val med = ev.groupBy("event_type").agg(expr("median(value)").as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("value") - col("med")).as("ad"), col("med"))
      val mad = dev.groupBy("event_type").agg(expr("median(ad)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 6).as("median_value"),
          round(max(col("mad")), 6).as("mad"),
          sum(when(col("ad") > lit(3) * col("mad"), 1).otherwise(0))
            .cast("long").as("n_outliers"))
        .orderBy("event_type")
    },

    // ---- URL canonicalization + collapse: normalize case, strip the
    //      default port / fragment / utm_* tracking params, then count
    //      raw variants per canonical URL — the crawl-frontier dedup
    //      pass that runs before any content-level dedup. Raw URLs are
    //      constructed deterministically from events (the corpus has no
    //      real URLs; the normalization machinery is what's under test).
    QueryDef.checked(
      "q_url_canonicalize",
      """WITH raw AS (
        |  SELECT concat(
        |    CASE WHEN event_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
        |    CASE WHEN event_id % 3 = 0 THEN 'WWW.EX.COM' ELSE 'www.ex.com' END,
        |    CASE WHEN event_id % 5 = 0 THEN ':443' ELSE '' END,
        |    '/p/', event_type, '/', CAST(user_id % 20 AS VARCHAR),
        |    '?utm_source=', CAST(event_id % 4 AS VARCHAR),
        |    '&id=', CAST(user_id % 20 AS VARCHAR),
        |    CASE WHEN event_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM events
        |), canon AS (
        |  SELECT url,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '#.*$', '', 'g'),
        |      ':443/', '/', 'g'),
        |      'utm_[a-z]+=[^&#]*&?', '', 'g'),
        |      '[?&]$', '', 'g') AS canonical_url
        |  FROM raw
        |)
        |SELECT canonical_url, count(*) AS n_events,
        |  count(DISTINCT url) AS n_raw_variants
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin) { (spark, dir) =>
      val raw = Tables(spark, dir).events
        .select(concat(
          when(col("event_id") % 2 === 0, "HTTPS://").otherwise("https://"),
          when(col("event_id") % 3 === 0, "WWW.EX.COM").otherwise("www.ex.com"),
          when(col("event_id") % 5 === 0, ":443").otherwise(""),
          lit("/p/"), col("event_type"), lit("/"),
          (col("user_id") % 20).cast("string"),
          lit("?utm_source="), (col("event_id") % 4).cast("string"),
          lit("&id="), (col("user_id") % 20).cast("string"),
          when(col("event_id") % 7 === 0, "#frag").otherwise("")).as("url"))
      raw
        .withColumn("canonical_url",
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            lower(col("url")),
            "#.*$", ""),
            ":443/", "/"),
            "utm_[a-z]+=[^&#]*&?", ""),
            "[?&]$", ""))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("url")).as("n_raw_variants"))
        .orderBy("canonical_url")
    },

    // ---- audience overlap: Jaccard between per-event-type user sets
    //      via distinct-pair self-join + inclusion-exclusion union.
    QueryDef.checked(
      "q_audience_overlap",
      """WITH au AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |), sz AS (
        |  SELECT event_type, count(*) AS n FROM au GROUP BY event_type
        |), inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM au a JOIN au b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type
        |)
        |SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
        |  sa.n + sb.n - i.n_both AS n_union,
        |  round(i.n_both * 1.0 / (sa.n + sb.n - i.n_both), 6) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.event_type = i.type_a
        |JOIN sz sb ON sb.event_type = i.type_b
        |ORDER BY type_a, type_b""".stripMargin) { (spark, dir) =>
      // one distinct computation feeds the sizes and both join sides
      val au = Tables(spark, dir).events
        .select("event_type", "user_id").distinct()
        .transform(localCheckpoint)
      val sz = au.groupBy("event_type").agg(count(lit(1)).as("n"))
      val a = au.toDF("type_a", "user_id")
      val b = au.toDF("type_b", "user_id2")
      val inter = a.join(b,
          a("user_id") === b("user_id2") && a("type_a") < b("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sz.toDF("type_a", "n_a")), Seq("type_a"))
        .join(broadcast(sz.toDF("type_b", "n_b")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
          round(col("n_both") * lit(1.0) /
            (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
        .orderBy("type_a", "type_b")
    },

    // ---- inter-event gap statistics: time between consecutive events
    //      of the same type per user — the latency/cadence profile
    //      behind rate limiting and engagement scoring. Gaps are exact
    //      integer microseconds; the mean divides exact sums.
    QueryDef.checked(
      "q_interevent_gaps",
      """WITH g AS (
        |  SELECT event_type,
        |    date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, count(gap_us) AS n_gaps,
        |  CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_gap_us,
        |  round(sum(gap_us) * 1.0 / count(gap_us), 6) AS avg_gap_us,
        |  round(median(gap_us), 6) AS p50_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      Tables(spark, dir).events
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            .as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(col("gap_us")).as("n_gaps"),
          min(col("gap_us")).cast("long").as("min_gap_us"),
          max(col("gap_us")).cast("long").as("max_gap_us"),
          round(sum(col("gap_us")) * lit(1.0) / count(col("gap_us")), 6)
            .as("avg_gap_us"),
          round(expr("median(gap_us)"), 6).as("p50_gap_us"))
        .orderBy("event_type")
    },

    // ---- burstiness profile: is each event stream Poisson-like, bursty,
    //      or metronomic? Two complementary statistics per type — the
    //      Goh-Barabási burstiness coefficient B = (σ−μ)/(σ+μ) over the
    //      per-user inter-event gaps (B→−1 periodic, 0 Poisson, →1
    //      bursty), and the Fano factor (var/mean) of hourly arrival
    //      counts. Both reduce to Σ/Σ² moments: one windowed gap pass
    //      (partitioned per user, like q_interevent_gaps) and one
    //      hour-bucketed count — no global ordering anywhere.
    QueryDef.checked(
      "q_burstiness",
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(date_diff('microsecond', lag(ts) OVER w, ts) AS BIGINT)
        |      AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), gs AS (
        |  SELECT event_type, count(*) AS n, sum(gap_us) AS s,
        |    CAST(sum(CAST(CAST(gap_us AS DOUBLE) * gap_us AS DECIMAL(38,6))) AS DOUBLE) AS ss
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
        |), hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), hs AS (
        |  SELECT event_type, count(*) AS nh, sum(c) AS sc,
        |    sum(CAST(c AS DOUBLE) * c) AS scc
        |  FROM hourly GROUP BY event_type
        |)
        |SELECT g.event_type, CAST(g.n AS BIGINT) AS n_gaps,
        |  round((sqrt((g.ss - CAST(g.s AS DOUBLE) * g.s / g.n) / (g.n - 1))
        |       - CAST(g.s AS DOUBLE) / g.n)
        |      / (sqrt((g.ss - CAST(g.s AS DOUBLE) * g.s / g.n) / (g.n - 1))
        |       + CAST(g.s AS DOUBLE) / g.n), 6) AS burstiness,
        |  round(((h.scc - CAST(h.sc AS DOUBLE) * h.sc / h.nh) / (h.nh - 1))
        |      / (CAST(h.sc AS DOUBLE) / h.nh), 6) AS fano_hourly
        |FROM gs g JOIN hs h ON h.event_type = g.event_type
        |ORDER BY g.event_type""".stripMargin) { (spark, dir) =>
      val events = Tables(spark, dir).events
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      val gs = events
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            .as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("s"),
          sum((col("gap_us").cast("double") * col("gap_us")).cast("decimal(38,6)")).cast("double").as("ss"))
      val hs = events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("nh"), sum(col("c")).as("sc"),
          sum(col("c").cast("double") * col("c")).as("scc"))
      val sd = sqrt((col("ss") - col("s").cast("double") * col("s") / col("n"))
        / (col("n") - 1))
      val mean = col("s").cast("double") / col("n")
      gs.join(hs, Seq("event_type"))
        .select(col("event_type"), col("n").cast("long").as("n_gaps"),
          round((sd - mean) / (sd + mean), 6).as("burstiness"),
          round(((col("scc") - col("sc").cast("double") * col("sc") / col("nh"))
            / (col("nh") - 1)) / (col("sc").cast("double") / col("nh")), 6)
            .as("fano_hourly"))
        .orderBy("event_type")
    },

    // ---- compressibility ranking: per source, distinct-to-total
    //      3-gram ratio as a dictionary-compressibility proxy (low
    //      ratio = repetitive = compresses well / dedups hard) — the
    //      report that orders sources for storage-codec and dedup-pass
    //      planning. One explode + a per-source pair of counts; the
    //      distinct count shuffles on (source, gram) with no hot keys
    //      (grams are near-uniform).
    QueryDef.checked(
      "q_compressibility_rank", {
        s"""WITH g AS (
           |  SELECT source, unnest(${Dedup.duckGrams}) AS gram FROM documents
           |), per_src AS (
           |  SELECT source, count(*) AS n_grams,
           |    count(DISTINCT gram) AS n_distinct
           |  FROM g GROUP BY source
           |)
           |SELECT source, CAST(n_grams AS BIGINT) AS n_grams,
           |  CAST(n_distinct AS BIGINT) AS n_distinct,
           |  round(n_distinct * 1.0 / n_grams, 6) AS distinct_ratio,
           |  CAST(row_number() OVER (ORDER BY n_distinct * 1000000 // n_grams,
           |    source) AS INT) AS compress_rank
           |FROM per_src
           |ORDER BY compress_rank""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val perSrc = Tables(spark, dir).documents
        .select(col("source"), split(col("text"), " ").as("toks"))
        .select(col("source"), explode(expr(Dedup.gramsExpr)).as("gram"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("gram")).as("n_distinct"))
      perSrc
        .select(col("source"), col("n_grams").cast("long").as("n_grams"),
          col("n_distinct").cast("long").as("n_distinct"),
          round(col("n_distinct") * lit(1.0) / col("n_grams"), 6)
            .as("distinct_ratio"),
          // global rank over |sources|: measured 20 @ sf0.01 AND sf0.1
          // (PlanProbe r7) — constant
          row_number().over(Window.orderBy(
            expr("n_distinct * 1000000 div n_grams"), col("source")))
            .cast("int").as("compress_rank"))
        .orderBy("compress_rank")
    },

    // ---- max-min fair-share allocation (waterfilling): tenants are
    //      corpus sources, demand is their character mass, capacity is
    //      60% of total demand — the allocator a multi-tenant ingest
    //      or training-token budget applies. Ascending-demand scan:
    //      a tenant saturates if its demand fits under the running
    //      water level ((C − cum_prev) div remaining); everyone else
    //      splits the residue evenly. All integer arithmetic; the
    //      windows run over the |sources| aggregate (bounded — the
    //      fact-sized scan is the one demand aggregate).
    QueryDef.checked(
      "q_fair_share",
      """WITH dem AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS d
        |  FROM documents GROUP BY source
        |), cap AS (
        |  SELECT CAST(sum(d) * 3 // 5 AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM dem
        |), rk AS (
        |  SELECT source, d, row_number() OVER (ORDER BY d, source) AS rn,
        |    coalesce(sum(d) OVER (ORDER BY d, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
        |  FROM dem
        |), flag AS (
        |  SELECT rk.source, rk.d, rk.rn, cap.c, cap.n,
        |    rk.d <= (cap.c - rk.cumprev) // (cap.n - rk.rn + 1) AS saturated
        |  FROM rk, cap
        |), lvl AS (
        |  SELECT c, n,
        |    CAST(sum(CASE WHEN saturated THEN d ELSE 0 END) AS BIGINT)
        |      AS cumsat,
        |    CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nsat
        |  FROM flag GROUP BY c, n
        |), alloc AS (
        |  SELECT f.source, f.d AS demand, CAST(f.rn AS INTEGER) AS rank,
        |    f.saturated,
        |    CAST(CASE WHEN f.saturated THEN f.d
        |      ELSE (l.c - l.cumsat) // (l.n - l.nsat) END AS BIGINT) AS alloc
        |  FROM flag f, lvl l
        |)
        |SELECT source, demand, rank, saturated, alloc,
        |  CAST(sum(alloc) OVER () AS BIGINT) AS total_alloc
        |FROM alloc ORDER BY rank""".stripMargin) { (spark, dir) =>
      // |sources| rows: measured 20 @ sf0.01 AND sf0.1 (PlanProbe r7)
      val w = Window.orderBy(col("d"), col("source"))
      val dem = Tables(spark, dir).documents
        .groupBy("source").agg(sum(col("n_chars")).as("d"))
        .transform(localCheckpoint) // capacity aggregate + the ranked scan
      val cap = dem.agg(expr("sum(d) * 3 div 5").as("c"),
        count(lit(1)).as("n"))
      val flag = dem
        .withColumn("rn", row_number().over(w))
        .withColumn("cumprev", coalesce(
          sum(col("d")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .crossJoin(broadcast(cap))
        .withColumn("saturated",
          col("d") <= expr("(c - cumprev) div (n - rn + 1)"))
        .transform(localCheckpoint) // level aggregate + the allocation projection
      val lvl = flag.groupBy("c", "n")
        .agg(sum(when(col("saturated"), col("d")).otherwise(0L)).as("cumsat"),
          sum(when(col("saturated"), 1L).otherwise(0L)).as("nsat"))
        .select(col("cumsat"), col("nsat"))
      flag.crossJoin(broadcast(lvl))
        .select(col("source"), col("d").as("demand"),
          col("rn").cast("int").as("rank"), col("saturated"),
          when(col("saturated"), col("d"))
            .otherwise(expr("(c - cumsat) div (n - nsat)")).as("alloc"))
        .withColumn("total_alloc",
          // |sources| rows: measured 20 @ sf0.01 AND sf0.1 (PlanProbe r7)
          sum(col("alloc")).over(Window.partitionBy()))
        .orderBy("rank")
    },

    // ---- functional-dependency discovery (Metanome-style profiling):
    //      for each candidate A→B, count LHS values with >1 distinct
    //      RHS — zero violators means the FD holds; the g3 share is the
    //      approximate-FD tolerance. All candidates ride ONE long-form
    //      union (one (fd, a)-keyed distinct aggregate for the whole
    //      candidate set, not a pass per pair). This is how a cloner's
    //      schema-inference step discovers key→attribute structure the
    //      catalog never declared.
    QueryDef.checked(
      "q_fd_discovery",
      """WITH cand AS (
        |  SELECT 'o_custkey->o_orderstatus' AS fd,
        |    CAST(o_custkey AS VARCHAR) AS a, o_orderstatus AS b FROM orders
        |  UNION ALL SELECT 'o_orderkey->o_orderpriority',
        |    CAST(o_orderkey AS VARCHAR), o_orderpriority FROM orders
        |  UNION ALL SELECT 'c_nationkey->c_mktsegment',
        |    CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer
        |  UNION ALL SELECT 'l_orderkey->l_returnflag',
        |    CAST(l_orderkey AS VARCHAR), l_returnflag FROM lineitem
        |  UNION ALL SELECT 'n_nationkey->n_regionkey',
        |    CAST(n_nationkey AS VARCHAR), CAST(n_regionkey AS VARCHAR)
        |  FROM nation
        |), g AS (
        |  SELECT fd, a, count(DISTINCT b) AS nb FROM cand GROUP BY fd, a
        |)
        |SELECT fd, CAST(count(*) AS BIGINT) AS n_lhs_values,
        |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_lhs,
        |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds,
        |  round(1.0 - CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS g3_share
        |FROM g GROUP BY fd ORDER BY fd""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      def c(fd: String, df: org.apache.spark.sql.DataFrame,
          a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        df.select(lit(fd).as("fd"), a.cast("string").as("a"),
          b.cast("string").as("b"))
      val cand = c("o_custkey->o_orderstatus", t.orders,
          col("o_custkey"), col("o_orderstatus"))
        .unionAll(c("o_orderkey->o_orderpriority", t.orders,
          col("o_orderkey"), col("o_orderpriority")))
        .unionAll(c("c_nationkey->c_mktsegment", t.customer,
          col("c_nationkey"), col("c_mktsegment")))
        .unionAll(c("l_orderkey->l_returnflag", t.lineitem,
          col("l_orderkey"), col("l_returnflag")))
        .unionAll(c("n_nationkey->n_regionkey", t.nation,
          col("n_nationkey"), col("n_regionkey")))
      cand.groupBy("fd", "a").agg(countDistinct(col("b")).as("nb"))
        .groupBy("fd")
        .agg(count(lit(1)).cast("long").as("n_lhs_values"),
          sum(when(col("nb") > 1, 1).otherwise(0)).cast("long")
            .as("n_violating_lhs"))
        .select(col("fd"), col("n_lhs_values"), col("n_violating_lhs"),
          (col("n_violating_lhs") === 0).as("holds"),
          round(lit(1.0) - col("n_violating_lhs").cast("double")
            / col("n_lhs_values"), 6).as("g3_share"))
        .orderBy("fd")
    },

    // ---- inclusion-dependency discovery: which column's value set is
    //      contained in another's — candidate foreign keys the schema
    //      never declared (q_ri_audit checks KNOWN FKs; this finds
    //      them). Each candidate is one distinct-projection anti-join —
    //      the scalable IND test (never a full-column materialization).
    QueryDef.checked(
      "q_ind_discovery",
      """WITH cand AS (
        |  SELECT 'customer.c_custkey<=orders.o_custkey' AS ind,
        |    (SELECT count(DISTINCT c_custkey) FROM customer) AS n_lhs,
        |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer) l
        |     LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) r
        |       ON r.k = l.c_custkey
        |     WHERE r.k IS NULL) AS n_missing
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey<=orders.o_orderkey',
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
        |     LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) r
        |       ON r.k = l.l_orderkey
        |     WHERE r.k IS NULL)
        |  UNION ALL
        |  SELECT 'orders.o_custkey<=customer.c_custkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) l
        |     LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) r
        |       ON r.k = l.o_custkey
        |     WHERE r.k IS NULL)
        |)
        |SELECT ind, CAST(n_lhs AS BIGINT) AS n_lhs,
        |  CAST(n_missing AS BIGINT) AS n_missing,
        |  n_missing = 0 AS holds,
        |  round(1.0 - CAST(n_missing AS DOUBLE) / n_lhs, 6) AS coverage
        |FROM cand ORDER BY ind""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      def ind(name: String, lhs: org.apache.spark.sql.DataFrame,
          rhs: org.apache.spark.sql.DataFrame) = {
        val l = lhs.distinct().toDF("k")
        val r = rhs.distinct().toDF("k")
        val nLhs = l.count()
        val nMissing = l.join(r, Seq("k"), "left_anti").count()
        (name, nLhs, nMissing)
      }
      import spark.implicits._
      Seq(
        ind("customer.c_custkey<=orders.o_custkey",
          t.customer.select("c_custkey"), t.orders.select("o_custkey")),
        ind("lineitem.l_orderkey<=orders.o_orderkey",
          t.lineitem.select("l_orderkey"), t.orders.select("o_orderkey")),
        ind("orders.o_custkey<=customer.c_custkey",
          t.orders.select("o_custkey"), t.customer.select("c_custkey")))
        .toDF("ind", "n_lhs", "n_missing")
        .select(col("ind"), col("n_lhs"), col("n_missing"),
          (col("n_missing") === 0).as("holds"),
          round(lit(1.0) - col("n_missing").cast("double") / col("n_lhs"), 6)
            .as("coverage"))
        .orderBy("ind")
    },

    // ---- schema matching by distribution shape: Jensen-Shannon
    //      divergence between the log10-magnitude profiles of numeric
    //      columns ACROSS tables — the "which columns mean the same
    //      thing" signal a data-integration step runs before any join
    //      is written. Profiles are bounded (≤ ~10 magnitude bins per
    //      column) after one long-form scan; non-shared support
    //      contributes its exact ½·mass·ln2. Best matches surface
    //      first.
    QueryDef.checked(
      "q_schema_match",
      """WITH vals AS (
        |  SELECT 'orders.o_totalprice' AS c,
        |    CAST(floor(ln(o_totalprice + 1) / ln(10)) AS INT) AS bin
        |  FROM orders
        |  UNION ALL SELECT 'lineitem.l_extendedprice',
        |    CAST(floor(ln(l_extendedprice + 1) / ln(10)) AS INT) FROM lineitem
        |  UNION ALL SELECT 'lineitem.l_quantity',
        |    CAST(floor(ln(l_quantity + 1) / ln(10)) AS INT) FROM lineitem
        |  UNION ALL SELECT 'events.value',
        |    CAST(floor(ln(abs(value) + 1) / ln(10)) AS INT) FROM events
        |  UNION ALL SELECT 'part.p_retailprice',
        |    CAST(floor(ln(p_retailprice + 1) / ln(10)) AS INT) FROM part
        |), d AS (
        |  SELECT c, bin, count(*) AS n FROM vals GROUP BY c, bin
        |), tot AS (
        |  SELECT c, sum(n) AS nt FROM d GROUP BY c
        |), p AS (
        |  SELECT d.c, d.bin, CAST(d.n AS DOUBLE) / t.nt AS pr
        |  FROM d JOIN tot t ON t.c = d.c
        |), cols AS (
        |  SELECT DISTINCT c FROM d
        |), pairsu AS (  -- FULL pair universe: disjoint-support pairs
        |  -- must surface at jsd = ln 2, not silently vanish
        |  SELECT a.c AS col_a, b.c AS col_b
        |  FROM cols a JOIN cols b ON b.c > a.c
        |), pairs AS (
        |  SELECT a.c AS col_a, b.c AS col_b, a.bin, a.pr AS pa, b.pr AS pb
        |  FROM p a JOIN p b ON b.bin = a.bin AND b.c > a.c
        |), half AS (
        |  SELECT col_a, col_b,
        |    sum(0.5 * pa * ln(pa / ((pa + pb) / 2))
        |      + 0.5 * pb * ln(pb / ((pa + pb) / 2))) AS jsd_shared,
        |    sum(pa) AS ma, sum(pb) AS mb
        |  FROM pairs GROUP BY col_a, col_b
        |)
        |SELECT u.col_a, u.col_b,
        |  round(COALESCE(h.jsd_shared, 0)
        |    + 0.5 * (1 - COALESCE(h.ma, 0)) * ln(2)
        |    + 0.5 * (1 - COALESCE(h.mb, 0)) * ln(2), 6) AS jsd,
        |  round(COALESCE(h.ma, 0), 6) AS overlap_a,
        |  round(COALESCE(h.mb, 0), 6) AS overlap_b
        |FROM pairsu u LEFT JOIN half h
        |  ON h.col_a = u.col_a AND h.col_b = u.col_b
        |ORDER BY jsd, u.col_a, u.col_b""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      def v(name: String, df: org.apache.spark.sql.DataFrame, e: String) =
        df.select(lit(name).as("c"),
          expr(s"CAST(floor(ln($e + 1) / ln(10)) AS INT)").as("bin"))
      val vals = v("orders.o_totalprice", t.orders, "o_totalprice")
        .unionAll(v("lineitem.l_extendedprice", t.lineitem, "l_extendedprice"))
        .unionAll(v("lineitem.l_quantity", t.lineitem, "l_quantity"))
        .unionAll(v("events.value", t.events, "abs(value)"))
        .unionAll(v("part.p_retailprice", t.part, "p_retailprice"))
      val d = vals.groupBy("c", "bin").agg(count(lit(1)).as("n"))
      val p = d.join(d.groupBy("c").agg(sum(col("n")).as("nt")), Seq("c"))
        .select(col("c"), col("bin"), (col("n").cast("double") / col("nt")).as("pr"))
        .transform(localCheckpoint) // both sides of the bounded pair join
      val cols_ = p.select("c").distinct()
      // full pair universe: disjoint-support pairs must report jsd = ln 2
      val pairsU = cols_.select(col("c").as("col_a"))
        .crossJoin(cols_.select(col("c").as("col_b")))
        .filter(col("col_b") > col("col_a"))
      val pairs = p.select(col("c").as("col_a"), col("bin"), col("pr").as("pa"))
        .join(p.select(col("c").as("col_b"), col("bin"), col("pr").as("pb")),
          Seq("bin"))
        .filter(col("col_b") > col("col_a"))
      val half = pairs.groupBy("col_a", "col_b")
        .agg(sum(lit(0.5) * col("pa") * log(col("pa") / ((col("pa") + col("pb")) / 2))
          + lit(0.5) * col("pb") * log(col("pb") / ((col("pa") + col("pb")) / 2)))
          .as("jsd_shared"),
          sum(col("pa")).as("ma"), sum(col("pb")).as("mb"))
      pairsU.join(half, Seq("col_a", "col_b"), "left")
        .select(col("col_a"), col("col_b"),
          round(coalesce(col("jsd_shared"), lit(0.0))
            + lit(0.5) * (lit(1) - coalesce(col("ma"), lit(0.0))) * log(lit(2.0))
            + lit(0.5) * (lit(1) - coalesce(col("mb"), lit(0.0))) * log(lit(2.0)),
            6).as("jsd"),
          round(coalesce(col("ma"), lit(0.0)), 6).as("overlap_a"),
          round(coalesce(col("mb"), lit(0.0)), 6).as("overlap_b"))
        .orderBy(col("jsd"), col("col_a"), col("col_b"))
    },

    // ---- capture-recapture population estimate (Chapman): how many
    //      distinct users does the event log REALLY have, estimated
    //      from two one-day "capture occasions" (Jan 3 and Jan 10)
    //      without ever scanning the rest of the month — the ecology
    //      estimator applied to data profiling (same question HLL
    //      answers approximately, answered here from two cheap
    //      partition-pruned samples plus independence). Chapman's
    //      bias-corrected N̂ = (n_a+1)(n_b+1)/(m+1) − 1 with its
    //      closed-form variance and a 95% CI, reported next to the true
    //      distinct count so the estimate is auditable. One grouped
    //      pass over the two pruned days (per-user capture flags), then
    //      scalar arithmetic on a single aggregate row.
    QueryDef.checked(
      "q_capture_recapture",
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03'
        |        THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-10'
        |        THEN 1 ELSE 0 END) AS in_b
        |  FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        |     OR CAST(ts AS DATE) = DATE '2024-01-10'
        |  GROUP BY user_id
        |), truth AS (
        |  SELECT count(DISTINCT user_id) AS n_true FROM events
        |), s AS (
        |  SELECT sum(in_a) AS na, sum(in_b) AS nb,
        |    sum(in_a * in_b) AS m
        |  FROM u
        |)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(m AS BIGINT) AS m_both,
        |  CAST(n_true AS BIGINT) AS n_true,
        |  round((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1, 6) AS chapman_est,
        |  round(sqrt((na + 1.0) * (nb + 1.0) * (na - m) * (nb - m)
        |    / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 6) AS se,
        |  round((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1
        |    - 1.96 * sqrt((na + 1.0) * (nb + 1.0) * (na - m) * (nb - m)
        |      / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 6) AS ci_lo,
        |  round((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1
        |    + 1.96 * sqrt((na + 1.0) * (nb + 1.0) * (na - m) * (nb - m)
        |      / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 6) AS ci_hi
        |FROM s, truth""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val dayA = lit("2024-01-03").cast("date")
      val dayB = lit("2024-01-10").cast("date")
      val u = ev
        .filter(to_date(col("ts")).isin(dayA, dayB))
        .groupBy("user_id")
        .agg(max(when(to_date(col("ts")) === dayA, 1).otherwise(0)).as("in_a"),
          max(when(to_date(col("ts")) === dayB, 1).otherwise(0)).as("in_b"))
      val s = u.agg(sum(col("in_a")).as("na"), sum(col("in_b")).as("nb"),
        sum(col("in_a") * col("in_b")).as("m"))
      val truth = ev.agg(countDistinct(col("user_id")).as("n_true"))
      val est = (col("na") + 1.0) * (col("nb") + 1.0) / (col("m") + 1.0) - 1
      val se = sqrt((col("na") + 1.0) * (col("nb") + 1.0)
        * (col("na") - col("m")) * (col("nb") - col("m"))
        / ((col("m") + 1.0) * (col("m") + 1.0) * (col("m") + 2.0)))
      s.crossJoin(broadcast(truth))
        .select(col("na").cast("long").as("n_a"),
          col("nb").cast("long").as("n_b"),
          col("m").cast("long").as("m_both"),
          col("n_true").cast("long").as("n_true"),
          round(est, 6).as("chapman_est"),
          round(se, 6).as("se"),
          round(est - lit(1.96) * se, 6).as("ci_lo"),
          round(est + lit(1.96) * se, 6).as("ci_hi"))
    },

    // ---- mergeable quantile estimation, audited: each event type
    //      builds a LOCAL 20-bin equi-depth histogram (the mergeable
    //      summary a 1000-executor job would emit per partition — this
    //      is the one-pass, bounded-memory path exact quantiles don't
    //      have at 100 TB); the histograms merge by pooling weighted
    //      upper bounds and reading deciles off the cumulative weight;
    //      the EXACT global deciles (RangeRank) sit beside the estimate
    //      so the merge error is part of the checked output, not a
    //      claim. Local ranks are per-group windows (scale-safe); the
    //      merge runs on the bounded |groups|×20 relation.
    QueryDef.checked(
      "q_quantile_sketch_merge",
      """WITH s AS (
        |  SELECT event_type AS g, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events
        |), loc AS (
        |  SELECT g, v,
        |    ntile(20) OVER (PARTITION BY g ORDER BY v, event_id) AS tile
        |  FROM s
        |), hist AS (
        |  SELECT g, tile, max(v) AS ub, count(*) AS cnt
        |  FROM loc GROUP BY g, tile
        |), cum AS (
        |  SELECT ub, sum(cnt) OVER (ORDER BY ub) AS cw,
        |    sum(cnt) OVER () AS tot
        |  FROM hist
        |), est AS (
        |  SELECT d.decile, min(c.ub) AS est_v
        |  FROM (SELECT unnest(range(1, 11)) AS decile) d
        |  JOIN cum c ON c.cw * 10 >= c.tot * d.decile
        |  GROUP BY d.decile
        |), ex AS (
        |  SELECT tile AS decile, max(v) AS exact_v
        |  FROM (SELECT v, ntile(10) OVER (ORDER BY v, event_id) AS tile
        |        FROM s) z
        |  GROUP BY tile
        |)
        |SELECT CAST(e.decile AS INT) AS decile,
        |  CAST(est_v AS BIGINT) AS est_v, CAST(exact_v AS BIGINT) AS exact_v,
        |  CAST(abs(est_v - exact_v) AS BIGINT) AS abs_err
        |FROM est e JOIN ex ON ex.decile = e.decile
        |ORDER BY decile""".stripMargin) { (spark, dir) =>
      val parts = spark.sessionState.conf.numShufflePartitions
      val s = Tables(spark, dir).events
        .select(col("event_type").as("g"), col("event_id"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
        .transform(localCheckpoint) // local-histogram pass AND the exact-decile pass
      val hist = s
        .withColumn("tile", ntile(20).over(
          Window.partitionBy("g").orderBy(col("v"), col("event_id"))))
        .groupBy("g", "tile").agg(max(col("v")).as("ub"), count(lit(1)).as("cnt"))
        .transform(localCheckpoint) // bounded |groups|*20 rows; two windows below
      // global windows over the sketch-bucket table: measured 100 rows @
      // sf0.01 AND sf0.1 (PlanProbe r7) — |groups|×20 tiles, constant
      val cum = hist
        .withColumn("cw", sum(col("cnt")).over(Window.orderBy("ub")))
        .withColumn("tot", sum(col("cnt")).over(Window.partitionBy()))
      val deciles = spark.range(1, 11).select(col("id").as("decile"))
      val est = broadcast(deciles)
        .join(cum, col("cw") * 10 >= col("tot") * col("decile"))
        .groupBy("decile").agg(min(col("ub")).as("est_v"))
      val ex = graft.util.RangeRank
        .withGlobalNtile(s, "tile", 10, parts, col("v"), col("event_id"))
        .groupBy("tile").agg(max(col("v")).as("exact_v"))
        .withColumnRenamed("tile", "ex_decile")
      est.join(ex, col("decile") === col("ex_decile"))
        .select(col("decile").cast("int").as("decile"),
          col("est_v").cast("long").as("est_v"),
          col("exact_v").cast("long").as("exact_v"),
          abs(col("est_v") - col("exact_v")).cast("long").as("abs_err"))
        .orderBy("decile")
    },

    // ---- model-based imputation, audited: every 11th customer's
    //      account balance is masked, an OLS plane on two order-derived
    //      features (order count, spend) is fit on the REST in closed
    //      form — one moments pass, a 2×2 normal-equation solve on the
    //      single aggregate row — and the imputed values are scored
    //      against the held-back truth per segment. The grown-up
    //      sibling of q_locf_fill/q_interpolate: imputation as a model
    //      with a measured error, not a fill rule. Scale: one grouped
    //      pass over orders, one moments aggregate, broadcast
    //      coefficients, one keyed join — no iteration.
    QueryDef.checked(
      "q_regression_impute",
      """WITH feats AS (
        |  SELECT c.c_custkey, c.c_mktsegment AS segment, c.c_acctbal AS y,
        |    c.c_custkey % 11 = 0 AS masked,
        |    coalesce(f.n_orders, 0.0) AS x1,
        |    coalesce(f.spend, 0.0) / 100000 AS x2
        |  FROM customer c LEFT JOIN (
        |    SELECT o_custkey, CAST(count(*) AS DOUBLE) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |        AS spend
        |    FROM orders GROUP BY o_custkey) f ON f.o_custkey = c.c_custkey
        |), m AS (
        |  SELECT count(*) AS n, sum(x1) AS s1,
        |    CAST(sum(CAST(x2 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    sum(x1 * x1) AS s11,
        |    CAST(sum(CAST(x1 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(x2 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(x1 * y AS DECIMAL(38,12))) AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(x2 * y AS DECIMAL(38,12))) AS DOUBLE) AS s2y
        |  FROM feats WHERE NOT masked
        |), b AS (
        |  SELECT n, s1 / n AS m1, s2 / n AS m2, sy / n AS my,
        |    s11 - s1 * s1 / n AS c11, s12 - s1 * s2 / n AS c12,
        |    s22 - s2 * s2 / n AS c22,
        |    s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y
        |  FROM m
        |), beta AS (
        |  SELECT m1, m2, my,
        |    (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
        |    (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
        |  FROM b
        |)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_masked,
        |  round(CAST(sum(CAST(my + b1 * (x1 - m1) + b2 * (x2 - m2) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
        |    AS avg_imputed,
        |  round(CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS avg_true,
        |  round(sqrt(CAST(sum(CAST((my + b1 * (x1 - m1) + b2 * (x2 - m2) - y)
        |    * (my + b1 * (x1 - m1) + b2 * (x2 - m2) - y) AS DECIMAL(38,12))) AS DOUBLE) / count(*)), 6) AS rmse
        |FROM feats, beta WHERE masked
        |GROUP BY segment
        |ORDER BY segment""".stripMargin) { (spark, dir) =>
      val tb = Tables(spark, dir)
      val f = tb.orders.groupBy("o_custkey")
        .agg(count(lit(1)).cast("double").as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("double").as("spend"))
      val feats = tb.customer
        .join(f, col("o_custkey") === col("c_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("c_acctbal").as("y"), (col("c_custkey") % 11 === 0).as("masked"),
          coalesce(col("n_orders"), lit(0.0)).as("x1"),
          (coalesce(col("spend"), lit(0.0)) / 100000).as("x2"))
        .transform(localCheckpoint) // moments pass AND the masked scoring pass
      val m = feats.filter(!col("masked"))
        .agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
          sum((col("x2")).cast("decimal(38,12)")).cast("double").as("s2"),
          sum((col("y")).cast("decimal(38,12)")).cast("double").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum((col("x1") * col("x2")).cast("decimal(38,12)")).cast("double").as("s12"),
          sum((col("x2") * col("x2")).cast("decimal(38,12)")).cast("double").as("s22"),
          sum((col("x1") * col("y")).cast("decimal(38,12)")).cast("double").as("s1y"),
          sum((col("x2") * col("y")).cast("decimal(38,12)")).cast("double").as("s2y"))
      val b = m.select(col("n"),
        (col("s1") / col("n")).as("m1"), (col("s2") / col("n")).as("m2"),
        (col("sy") / col("n")).as("my"),
        (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("c12"),
        (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
        (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
        (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"))
      val beta = b.select(col("m1"), col("m2"), col("my"),
        ((col("c22") * col("c1y") - col("c12") * col("c2y"))
          / (col("c11") * col("c22") - col("c12") * col("c12"))).as("b1"),
        ((col("c11") * col("c2y") - col("c12") * col("c1y"))
          / (col("c11") * col("c22") - col("c12") * col("c12"))).as("b2"))
      val pred = col("my") + col("b1") * (col("x1") - col("m1")) +
        col("b2") * (col("x2") - col("m2"))
      feats.filter(col("masked")).crossJoin(broadcast(beta))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_masked"),
          (sum((pred).cast("decimal(38,12)")).cast("double") / count(lit(1))).as("avg_imputed"),
          (sum((col("y")).cast("decimal(38,12)")).cast("double") / count(lit(1))).as("avg_true"),
          sqrt(sum(((pred - col("y")) * (pred - col("y"))).cast("decimal(38,12)")).cast("double")
            / count(lit(1))).as("rmse"))
        .select(col("segment"), col("n_masked").cast("long").as("n_masked"),
          round(col("avg_imputed"), 6).as("avg_imputed"),
          round(col("avg_true"), 6).as("avg_true"),
          round(col("rmse"), 6).as("rmse"))
        .orderBy("segment")
    }
  )
}
