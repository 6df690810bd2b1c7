package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 additions: content-defined chunking (the FastCDC-family
  * dedup primitive), distributed sparse matrix multiply, incremental
  * view maintenance by the bilinear delta rule, phonetic-key blocking
  * for entity resolution, and a one-pass Aho-Corasick multi-pattern
  * corpus scan (the production swap-in the `q_blocklist_filter`
  * Scaladoc promises). Oracle discipline as ever: integer arithmetic
  * end-to-end (counts, byte sums, md5 hex), with the only doubles
  * being exact integer divisions rounded once.
  */
object Wave7 {

  /** Nested-`replace` run collapser: `replace(x,'dd','d')` applied 4×
    * per digit halves (then re-halves) any run, so runs up to 16 chars
    * collapse to one — far beyond any single-word digit string here.
    * Pure `replace`, so the SAME text runs in Spark and DuckDB (no
    * regex-flag dialect split, and RE2 has no backreferences anyway).
    */
  private def collapseRuns(e: String): String =
    (1 to 6).foldLeft(e) { (acc, d) =>
      (1 to 4).foldLeft(acc)((a, _) => s"replace($a, '$d$d', '$d')")
    }

  /** Soundex-class phonetic key of the FIRST word of `c`, as a SQL
    * expression string: keep the first letter, map the remaining
    * consonants to the classic Soundex digit classes
    * (bfpv→1 cgjkqsxz→2 dt→3 l→4 mn→5 r→6) via `translate`, DELETE
    * vowels+h+w+y, collapse adjacent equal digits, pad with zeros to 4.
    * Variant note (documented, deliberate): vowels are deleted before
    * the collapse, so equal digits separated by a vowel also merge —
    * one `translate` + one `regexp_replace` instead of the classic
    * positional scan, which keeps the whole key inside codegen'd
    * builtins on the engine side and plain SQL on the oracle side.
    * `duck` switches only the regexp_replace global-flag dialect.
    */
  private[graft] def phoneticKeySql(c: String, duck: Boolean): String = {
    val w = s"lower(split_part($c, ' ', 1))"
    val mapped =
      s"translate(substring($w, 2), 'bfpvcgjkqsxzdtlmnr', '111122222222334556')"
    val noVowels =
      if (duck) s"regexp_replace($mapped, '[aeiouyhw]', '', 'g')"
      else s"regexp_replace($mapped, '[aeiouyhw]', '')"
    s"substring(concat(substring($w, 1, 1), ${collapseRuns(noVowels)}, '000'), 1, 4)"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- content-defined chunking (CDC): the rolling-fingerprint
    //      boundary rule of the FastCDC family — a chunk ends wherever
    //      the fingerprint of the trailing W=8 bytes hits 0 mod 17 —
    //      so chunk boundaries are INVARIANT under insertions elsewhere
    //      in the document (the property fixed-size chunking lacks, and
    //      the reason dedup stores chunk by content not by offset).
    //      Fingerprint here is the windowed byte sum (the simplest
    //      genuine rolling hash; production uses Rabin/gear — same
    //      boundary logic, same plan). Chunking is strictly per-row
    //      sequential, so the engine runs it as a scalar codegen
    //      expression (CdcSpans — one pass per document inside the
    //      scan stage) while the ORACLE runs the declarative per-char
    //      window formulation; the hash match proves the one-pass scan
    //      implements the windowed spec. Nothing crosses documents
    //      until the final per-source hash-dedup aggregate. The
    //      covered_chars column audits the span algebra: it must equal
    //      sum(n_chars).
    QueryDef.checked(
      "q_cdc_chunking",
      """WITH ch AS (
        |  SELECT doc_id, CAST(u AS INT) AS pos,
        |    ascii(substring(text, CAST(u AS INT), 1)) AS code
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, CAST(length(text) AS INT) + 1)) AS u
        |        FROM documents)
        |), wins AS (
        |  SELECT doc_id, pos,
        |    sum(code) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS winsum
        |  FROM ch
        |), bounds AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, pos FROM wins WHERE pos >= 8 AND winsum % 17 = 0
        |    UNION ALL
        |    SELECT doc_id, CAST(n_chars AS INT) FROM documents
        |  )
        |), spans AS (
        |  SELECT doc_id,
        |    coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1
        |      AS st,
        |    pos AS en
        |  FROM bounds
        |), chunks AS (
        |  SELECT s.doc_id, d.source,
        |    md5(substring(d.text, s.st, s.en - s.st + 1)) AS h,
        |    s.en - s.st + 1 AS len
        |  FROM spans s JOIN documents d ON s.doc_id = d.doc_id
        |)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        |  round(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 6)
        |    AS dup_ratio,
        |  CAST(sum(len) AS BIGINT) AS covered_chars,
        |  CAST(max(len) AS BIGINT) AS max_chunk
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
      // chunk spans come from ONE codegen'd pass per document
      // ([[graft.functions.CdcSpans]]); only ~|text|/17 span rows leave
      // the scan, and the text is already on the row, so there is no
      // per-char explode, no per-doc window shuffle, and no re-join.
      // The oracle still runs the definitionally-transparent windowed
      // formulation, so the hash match pins the one-pass scan against
      // the declarative spec. Measured: 9.7 s -> sub-second at sf0.1.
      val chunks = Tables(spark, dir).documents
        .select(col("source"), col("text"),
          explode(graft.functions.CdcSpans.cdcSpans(col("text"))).as("sp"))
        .select(col("source"),
          md5(expr("substring(text, sp.st, sp.en - sp.st + 1)")).as("h"),
          (col("sp.en") - col("sp.st") + 1).as("len"))
      chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_distinct"),
          round((count(lit(1)) - countDistinct(col("h"))).cast("double")
            / count(lit(1)), 6).as("dup_ratio"),
          sum(col("len")).cast("long").as("covered_chars"),
          max(col("len")).cast("long").as("max_chunk"))
        .orderBy("source")
    },

    // ---- distributed sparse matrix multiply (SpMM): C = A·B with
    //      A = user×event-type counts and B = event-type×month counts,
    //      both integer contingency matrices from one events scan each.
    //      The join contracts the INNER dimension (event_type, 5
    //      values): B is |types|×|months| ≈ 60 rows, so it broadcasts
    //      and the multiply is map-side — the SUMMA degenerate case.
    //      When neither factor is small, the same query blocks both
    //      matrices on (row-block, inner-block) / (inner-block,
    //      col-block) keys and shuffles per-block partial products —
    //      the groupBy(i,j) below is already that reduce; only the
    //      partitioning key widens. Exact: counts and products are
    //      integers end-to-end.
    QueryDef.checked(
      "q_spmm_blocked",
      """WITH a AS (
        |  SELECT user_id % 64 AS i, event_type AS t, count(*) AS av
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type AS t, CAST(month(ts) AS INTEGER) AS j,
        |    count(*) AS bv
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT i, j, CAST(sum(av * bv) AS BIGINT) AS cij
        |FROM a JOIN b USING (t)
        |GROUP BY i, j ORDER BY i, j""".stripMargin) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val a = ev.groupBy((col("user_id") % 64).as("i"),
          col("event_type").as("t"))
        .agg(count(lit(1)).as("av"))
      val b = ev.groupBy(col("event_type").as("t"),
          month(col("ts")).as("j"))
        .agg(count(lit(1)).as("bv"))
      a.join(broadcast(b), "t")
        .groupBy("i", "j")
        .agg(sum(col("av") * col("bv")).cast("long").as("cij"))
        .orderBy("i", "j")
    },

    // ---- incremental view maintenance by the bilinear delta rule:
    //      for V = γ_custkey(R ⋈ S) with R = orders split at the batch
    //      cut 1999-01-01 and S = lineitem split at ship-cut
    //      1999-07-01, the engine assembles V from the four partials
    //      γ(R₀⋈S₀) ⊎ γ(ΔR⋈S₀) ⊎ γ(R₀⋈ΔS) ⊎ γ(ΔR⋈ΔS) and sum-merges —
    //      Δ(R⋈S) = ΔR⋈S ∪ R₀⋈ΔS ∪ ΔR⋈ΔS, the identity every
    //      incremental pipeline rides. The oracle recomputes the view
    //      from scratch; the hash match IS the IVM-correctness proof.
    //      At 100 TB the three delta joins touch only the new
    //      partitions (both split predicates are partition-prunable
    //      date filters) while γ(R₀⋈S₀) is the standing materialization
    //      read back from the store — the only term that never rescans.
    //      Additive aggregates only (sum, count), the class the delta
    //      rule covers without retraction state. Execution note: at
    //      test scale all four quadrants must be computed anyway, so
    //      the engine routes rows by (ΔR?, ΔS?) quadrant tags through
    //      ONE co-partitioned join and groups by (custkey, rf, sf) —
    //      that grouped relation IS the four partials, materialized as
    //      quadrant-keyed rows from a single pass (orders and lineitem
    //      each shuffle once instead of twice) — then sum-merges. The
    //      production incremental run replaces the (false,false)
    //      quadrant with the standing store read; the merge is
    //      unchanged. Measured: the four-separate-joins formulation ran
    //      8.1 s at sf0.1, this one ~3 s, identical hash.
    QueryDef.checked(
      "q_ivm_delta_join",
      """SELECT o_custkey AS custkey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cut = lit("1999-01-01").cast("timestamp")
      val shipCut = lit("1999-07-01").cast("timestamp")
      val r = t.orders.select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderdate") >= cut).as("rf"))
      val s = t.lineitem.select(col("l_orderkey"), col("l_quantity"),
        (col("l_shipdate") >= shipCut).as("sfl"))
      // the four partials γ(R₀⋈S₀), γ(ΔR⋈S₀), γ(R₀⋈ΔS), γ(ΔR⋈ΔS) as
      // quadrant-keyed rows from one co-partitioned join
      val partials = r.join(s, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("custkey"), col("rf"), col("sfl"))
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          count(lit(1)).as("c"))
      partials.groupBy("custkey")
        .agg(sum(col("q")).cast("long").as("qty_sum"),
          sum(col("c")).cast("long").as("n_items"))
        .orderBy("custkey")
    },

    // ---- phonetic-key blocking (Soundex-class): the OTHER classic
    //      entity-resolution blocking family — q_fuzzy_join blocks on a
    //      raw substring, phonetic keys block on how the name SOUNDS,
    //      so sound-alike corruptions stay in-block. Entity names are
    //      proquint-style pronounceable surrogates of c_custkey (each
    //      digit → consonant+'a', consonants chosen across the Soundex
    //      classes, LOW-order digits first — reversed so the 4-char key
    //      window sees the high-entropy digits, not the zero padding),
    //      so the name space GROWS with the corpus — the
    //      fixture's literal name columns are degenerate for blocking
    //      (64 distinct p_name values → any scheme degenerates to
    //      n²/64 pairs; measured 50M pairs / 31.7 s before this
    //      redesign). A deterministically dirtied twin (one 'x'
    //      overlaid at a key-dependent position) is re-linked by
    //      phonetic-key block + levenshtein ≤ 1 verify. Scale: the
    //      4-char key has FIXED entropy (~2×10³ blocks), so block
    //      sizes grow linearly with the corpus — the intrinsic Soundex
    //      limit — and the classic block-purging cap (drop blocks with
    //      > 64 clean members, reported as n_purged) hard-bounds
    //      candidates at 64·n, i.e. linear, never the corpus square.
    //      Recall < 1 is the honest phonetic story: overlays that land
    //      on a key-window consonant of a different class leave the
    //      block (vowel-position and past-the-key-window overlays
    //      survive).
    QueryDef.checked(
      "q_phonetic_blocking",
      s"""WITH base AS (
        |  SELECT c_custkey AS id,
        |    regexp_replace(translate(reverse(lpad(CAST(c_custkey AS VARCHAR),
        |      8, '0')), '0123456789', 'bcdlmrgtnf'), '(.)', '\\1a', 'g') AS nm
        |  FROM customer
        |), clean AS (
        |  SELECT id AS clean_id, nm, ${phoneticKeySql("nm", duck = true)} AS pk
        |  FROM base
        |), dirty AS (
        |  SELECT id AS dirty_id,
        |    concat(substring(nm, 1, 2 + id % 10), 'x',
        |           substring(nm, 4 + id % 10)) AS dn
        |  FROM base
        |), dkey AS (
        |  SELECT dirty_id, dn, ${phoneticKeySql("dn", duck = true)} AS pk
        |  FROM dirty
        |), bs AS (
        |  SELECT pk, count(*) AS cn FROM clean GROUP BY pk
        |), cand AS (
        |  SELECT clean_id, dirty_id, nm, dn
        |  FROM clean JOIN bs USING (pk) JOIN dkey USING (pk)
        |  WHERE cn <= 64
        |), verified AS (
        |  SELECT clean_id, dirty_id FROM cand
        |  WHERE levenshtein(nm, dn) <= 1
        |)
        |SELECT
        |  (SELECT count(*) FROM cand) AS n_candidates,
        |  (SELECT count(*) FROM verified) AS n_matches,
        |  (SELECT count(*) FROM verified WHERE clean_id = dirty_id)
        |    AS n_true,
        |  (SELECT count(*) FROM bs WHERE cn > 64) AS n_purged,
        |  round(CAST((SELECT count(*) FROM verified
        |              WHERE clean_id = dirty_id) AS DOUBLE)
        |    / (SELECT count(*) FROM customer), 6) AS recall""".stripMargin) {
      (spark, dir) =>
        val cust = Tables(spark, dir).customer
        val nEnt = cust.count()
        val base = cust.select(col("c_custkey").as("id"),
          expr("""regexp_replace(translate(reverse(lpad(cast(c_custkey
                 |  as string), 8, '0')), '0123456789', 'bcdlmrgtnf'),
                 |  '(.)', '$1a')""".stripMargin).as("nm"))
        val clean = base.select(col("id").as("clean_id"), col("nm"),
          expr(phoneticKeySql("nm", duck = false)).as("pk"))
        val dirty = base
          .select(col("id").as("dirty_id"),
            expr("""concat(substring(nm, 1, 2 + id % 10), 'x',
                   |  substring(nm, 4 + id % 10))""".stripMargin).as("dn"))
          .select(col("dirty_id"), col("dn"),
            expr(phoneticKeySql("dn", duck = false)).as("pk"))
        // block purge: the key space is ≤ a few thousand rows, so block
        // sizes broadcast; oversized blocks never enter the pair join
        val bs = clean.groupBy("pk").agg(count(lit(1)).as("cn"))
        val nPurged = bs.filter(col("cn") > 64).count() // bounded: 1 value
        val kept = clean.join(broadcast(bs.filter(col("cn") <= 64)
          .select("pk")), "pk")
        // ONE distributed pass over the blocked pairs: candidates,
        // verified matches, and true links come from the same aggregate
        // (the bounded-collect discipline — the collect is 1 row).
        // spreadBy pins the pair join's exchange at full width: the
        // levenshtein verify over ~64·n blocked pairs is the query's
        // whole cost, and AQE's byte-based coalescing ran it in ONE
        // task off the kilobyte key relation (job trace, r16: a 0.96 s
        // single-task job; the keyed repartition IS the join's
        // exchange, not an extra one — guide §2.5)
        val lev = levenshtein(col("nm"), col("dn"))
        val s = graft.Tables.spreadBy(kept, col("pk")).join(dirty, "pk")
          .agg(count(lit(1)).as("n_candidates"),
            count(when(lev <= 1, 1)).as("n_matches"),
            count(when(lev <= 1 && col("clean_id") === col("dirty_id"), 1))
              .as("n_true"))
          .first()
        import spark.implicits._
        Seq((s.getAs[Long]("n_candidates"), s.getAs[Long]("n_matches"),
          s.getAs[Long]("n_true"), nPurged))
          .toDF("n_candidates", "n_matches", "n_true", "n_purged")
          // same round(exact-integer-division, 6) shape as the oracle —
          // the engine-side round, not driver math, per Parity rules
          .withColumn("recall",
            round(col("n_true").cast("double") / lit(nEnt.toDouble), 6))
    },

    // ---- materialized-view rewrite: the read half of the IVM story
    //      (q_ivm_delta_join maintains the summary; this ANSWERS from
    //      it). A (l_returnflag, l_linestatus) summary with additive
    //      measures is staged once per fixture fingerprint; the
    //      [[graft.plans.MvRewrite]] optimizer rule (injected via
    //      extraOptimizations here, via GraftExtensions in configured
    //      sessions) then rewrites this query's coarser rollup —
    //      grouped by l_returnflag only — from the fact scan onto the
    //      6-row summary: Calcite-style subset-of-grouping matching,
    //      sum→sum-of-sums, count(*)→sum(cnt). The oracle recomputes
    //      from the raw fact table in DuckDB, so the hash match proves
    //      the rewrite semantics-preserving end-to-end; PlanWave7Spec
    //      asserts the physical scan reads the summary, not lineitem.
    //      At 100 TB the rewritten plan reads |group domain| rows.
    QueryDef.checked(
      "q_mv_rewrite",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_items,
        |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val factPath = java.nio.file.Paths.get(s"$dir/lineitem.parquet")
        .toAbsolutePath.toString
      val mvDir = graft.util.Staging.dir("graft_mv_",
        s"$dir/lineitem.parquet|mv_rf_ls_qty_v2")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val qty = col("l_quantity").cast("long")
      if (!fs.exists(new org.apache.hadoop.fs.Path(mvDir, "_SUCCESS")))
        spark.read.parquet(factPath)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(qty).as("mv_sum_l_quantity"),
            count(lit(1)).as("mv_cnt"),
            min(qty).as("mv_min_l_quantity"),
            max(qty).as("mv_max_l_quantity"))
          .write.mode("overwrite").parquet(mvDir)
      graft.plans.MvRewrite.register(graft.plans.MvRewrite.Mv(
        factPath,
        spark.read.parquet(mvDir).queryExecution.analyzed,
        Set("l_returnflag", "l_linestatus"),
        Map("l_quantity" -> "mv_sum_l_quantity"),
        "mv_cnt",
        Map("l_quantity" -> "mv_min_l_quantity"),
        Map("l_quantity" -> "mv_max_l_quantity")))
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.MvRewrite))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.MvRewrite
      // sum(long) is LongType already — no outer cast, so each alias
      // carries the bare AggregateExpression the matcher requires; the
      // avg derivation is the non-self-merging one (sum-of-sums over
      // sum-of-counts), min/max re-apply themselves over the extrema.
      // graft.mv=true is the per-scan opt-in: ONLY this scan is
      // eligible for the rewrite, so no other same-session aggregate
      // over lineitem can silently read the summary
      spark.read.option("graft.mv", "true").parquet(factPath)
        .groupBy("l_returnflag")
        .agg(sum(qty).as("sum_qty"),
          count(lit(1)).as("n_items"),
          avg(qty).as("avg_qty"),
          min(qty).as("min_qty"),
          max(qty).as("max_qty"))
        .orderBy("l_returnflag")
    },

    // ---- inverted text index: the secondary-index storage capability —
    //      postings (term, doc_id, tf) staged once per fixture
    //      fingerprint and written PARTITIONED BY term, so a term
    //      lookup prunes to the queried terms' directories and the
    //      documents table is never scanned at query time (PlanWave7
    //      assertion: PartitionFilters on term, no documents.parquet in
    //      the plan). The query is the classic conjunctive (AND) term
    //      search: docs containing ALL three terms, ranked key + summed
    //      tf from the postings alone. At 100 TB the same layout
    //      hash-buckets terms instead of one-directory-per-term (high-
    //      cardinality vocab) and doc-partitions within term, keeping
    //      the intersection a co-partitioned join; the oracle replays
    //      the definition from the raw text, so the hash match proves
    //      index build + pruned lookup ≡ corpus scan.
    QueryDef.checked(
      "q_inverted_index",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM tok WHERE term IN ('spark', 'scan', 'batch')
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM hits GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val staged = graft.util.Staging.dir("graft_invidx_",
        s"$dir/documents.parquet|postings_v1")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(staged, "_SUCCESS")))
        Tables(spark, dir).documents
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .groupBy("term", "doc_id")
          .agg(count(lit(1)).as("tf"))
          .write.mode("overwrite").partitionBy("term").parquet(staged)
      // query side: postings only — conjunctive lookup over 3 pruned
      // term partitions, intersect by doc_id, sum tf
      spark.read.parquet(staged)
        .filter(col("term").isin("spark", "scan", "batch"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).cast("long").as("total_tf"),
          countDistinct(col("term")).as("nt"))
        .filter(col("nt") === 3)
        .select(col("doc_id"), col("total_tf"))
        .orderBy("doc_id")
    },

    // ---- one-pass multi-pattern corpus scan: the Aho-Corasick
    //      automaton ([[graft.functions.MultiPatternCount]], a native
    //      codegen expression carrying the compiled automaton as a
    //      reference object) counts EVERY pattern in ONE pass over each
    //      document — the production blocklist/PII-term scan, where the
    //      naive plan is P separate regexp passes over the same 100 TB.
    //      Counts include overlapping and nested occurrences (the
    //      dictionary-suffix-link semantics); the oracle replays the
    //      same all-positions definition by brute force, so the hash
    //      match pins the automaton against a definitionally-transparent
    //      spec, not against another automaton.
    QueryDef.checked(
      "q_aho_corasick_scan",
      """WITH pats AS (
        |  SELECT * FROM (VALUES ('batch'), ('fast'), ('merge'), ('scan'),
        |    ('sort'), ('table'), ('vector'), ('window')) AS t(p)
        |), hits AS (
        |  SELECT p, doc_id,
        |    coalesce(list_sum(list_transform(
        |      range(CAST(length(text) - length(p) + 1 AS BIGINT)),
        |      i -> CASE WHEN substring(text, CAST(i AS INT) + 1,
        |                   CAST(length(p) AS INT)) = p
        |           THEN 1 ELSE 0 END)), 0) AS cnt
        |  FROM documents, pats
        |)
        |SELECT p AS pattern, CAST(sum(cnt) AS BIGINT) AS occurrences,
        |  CAST(count(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_docs
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val pats = Seq("batch", "fast", "merge", "scan",
        "sort", "table", "vector", "window")
      Tables(spark, dir).documents
        .select(posexplode(
          graft.functions.AhoCorasick.multiPatternCount(col("text"), pats)))
        .select(element_at(array(pats.map(lit): _*), col("pos") + 1)
            .as("pattern"),
          col("col").as("cnt"))
        .groupBy("pattern")
        .agg(sum(col("cnt")).cast("long").as("occurrences"),
          count(when(col("cnt") > 0, 1)).cast("long").as("n_docs"))
        .orderBy("pattern")
    }
  )
}
