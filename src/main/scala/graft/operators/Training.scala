package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Training-data curation operators (north star, SURVEY.md §2B): the
  * corpus-hygiene passes a large-scale pretraining pipeline runs between
  * raw crawl and tokenizer — benchmark-contamination checks, repetition
  * filters, PII redaction, LM-based quality scoring, chunk-level
  * cross-doc dedup, shard manifests, and the composite keep/drop filter.
  *
  * Scale stance (100 TB):
  *   - [[q_contamination]] joins the corpus gram relation against a
  *     BENCHMARK gram set that is tiny by construction (eval suites are
  *     MBs, not TBs) — broadcast join, so the pass stays one linear scan
  *     of the corpus with no shuffle of the big side.
  *   - [[q_repetition_ratio]] is entirely per-row array arithmetic —
  *     zero shuffles, perfectly partition-parallel, whole-stage codegen.
  *   - [[q_chunk_dedup]] shuffles on the chunk hash (cardinality grows
  *     with data — no hot keys) exactly like exact-dedup; reassembly is
  *     a second keyed shuffle on doc_id.
  *   - [[q_unigram_logprob]] builds the vocabulary profile with one
  *     groupBy (vocab is sublinear in corpus size) and broadcasts it
  *     back for scoring.
  *
  * Numeric discipline follows the house rules: ratios are exact integer
  * divisions in double; thresholds compare integers (`n*4 >= total`, not
  * `rate >= 0.25`); the only transcendental (ln) rounds at the edge.
  */
object Training {

  private val stopSqlList = TextAnalysis.stopSqlList
  private val stopArr = TextAnalysis.stopArrLit

  /** Shared surprisal front half — `scored(doc_id, nll)` under the
    * corpus's own unigram distribution. One CTE string + one DataFrame
    * builder so [[q_unigram_logprob]] and [[q_ppl_buckets]] cannot
    * drift apart on tokenization or smoothing. */
  private[operators] val duckNllCtes =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), freq AS (
      |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
      |), tot AS (
      |  SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq
      |), scored AS (
      |  SELECT doc_id, -ln(c / t) AS nll
      |  FROM toks JOIN freq USING (tok) CROSS JOIN tot
      |)""".stripMargin

  private[operators] def scoredNll(docs: org.apache.spark.sql.DataFrame) = {
    // spread the doc rows before the token explosion (Tables.spread:
    // one file split + byte-based AQE coalescing would otherwise run
    // the tokenize-explode stage in a single task)
    val toks = Tables.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).cast("double").as("t"))
    toks.join(broadcast(freq), Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), (-log(col("c") / col("t"))).as("nll"))
  }

  /** The CCNet keep predicate (surprisal terciles × 10/50/100 hash
    * rates) as a shared fragment — `ppl_keep(doc_id)` CTEs appended
    * after [[duckNllCtes]], plus the DataFrame twin. Shared by
    * [[q_ppl_buckets]]'s flagged relation and the resample capstone so
    * the rates/terciles live in exactly one place. */
  private[operators] val duckPplKeepCtes =
    """per_doc AS (
      |  SELECT doc_id,
      |    round(sum(CAST(round(nll * 1000000000) AS BIGINT)) / 1000000000.0
      |          / count(*), 6) AS avg_nll
      |  FROM scored GROUP BY doc_id
      |), bucketed AS (
      |  SELECT doc_id, avg_nll,
      |    ntile(3) OVER (ORDER BY avg_nll, doc_id) AS bucket
      |  FROM per_doc
      |), ppl_keep AS (
      |  SELECT doc_id, bucket, avg_nll,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      |      < CASE bucket WHEN 1 THEN 10 WHEN 2 THEN 50 ELSE 100 END AS keep
      |  FROM bucketed
      |)""".stripMargin

  /** (doc_id, bucket, avg_nll, keep) — DataFrame twin of the
    * `ppl_keep` CTE. The per-doc average uses a FIXED-POINT token sum:
    * this value feeds ntile, where a 1-ulp flip at a rounding boundary
    * would reassign a doc's bucket. */
  private[operators] def pplKeep(docs: org.apache.spark.sql.DataFrame) = {
    val perDoc = scoredNll(docs)
      .groupBy("doc_id")
      .agg(sum(expr("CAST(round(nll * 1000000000) AS BIGINT)")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("doc_id"),
        round(col("ss") / lit(1000000000.0) / col("n"), 6).as("avg_nll"))
    // doc-count-sized relation: tertile via the scale-safe RangeRank
    // ntile, not a single-partition window
    graft.util.RangeRank.withGlobalNtile(perDoc, "bucket", 3,
        perDoc.sparkSession.sessionState.conf.numShufflePartitions,
        col("avg_nll"), col("doc_id"))
      .withColumn("keep",
        Dedup.md5h64(col("doc_id").cast("string")) % 100 <
          when(col("bucket") === 1, 10)
            .when(col("bucket") === 2, 50).otherwise(100))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- benchmark contamination: fraction of each doc's distinct
    //      3-gram shingles that appear in a held-out "benchmark" set
    //      (docs with doc_id % 97 == 0 stand in for the eval suite).
    //      Contaminated docs are what decontamination drops before
    //      training.
    QueryDef.checked(
      "q_contamination",
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, unnest(${Dedup.duckGrams}) AS gram FROM documents
         |), bench AS (
         |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
         |)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  count(b.gram) AS n_contaminated,
         |  CAST(count(b.gram) AS DOUBLE) / count(*) AS contamination_rate,
         |  count(b.gram) * 4 >= count(*) AS is_contaminated
         |FROM grams g LEFT JOIN bench b ON g.gram = b.gram
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // the gram relation feeds both the benchmark set and the probe side
      val grams = Dedup.gramRelation(Tables(spark, dir).documents)
        .transform(localCheckpoint)
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
        .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
          (col("n_contaminated").cast("double") / col("n_grams"))
            .as("contamination_rate"),
          (col("n_contaminated") * 4 >= col("n_grams")).as("is_contaminated"))
        .orderBy("doc_id")
    },

    // ---- repetition filter (Gopher-style): duplicate token and
    //      duplicate 3-gram fractions, computed per row with no shuffle
    QueryDef.checked(
      "q_repetition_ratio",
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         |    len(${Dedup.duckGrams}) AS n_grams,
         |    len(list_distinct(${Dedup.duckGrams})) AS n_distinct_grams
         |  FROM documents
         |)
         |SELECT doc_id, n_tokens, n_distinct_tokens, n_grams, n_distinct_grams,
         |  CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_ratio,
         |  CASE WHEN n_grams > 0
         |    THEN CAST(n_grams - n_distinct_grams AS DOUBLE) / n_grams
         |    ELSE 0.0 END AS dup_gram_ratio,
         |  (n_grams - n_distinct_grams) * 5 > n_grams AS is_repetitive
         |FROM feats
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_tokens"),
          size(expr(Dedup.gramsExpr)).as("n_grams"),
          size(array_distinct(expr(Dedup.gramsExpr))).as("n_distinct_grams"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          col("n_grams"), col("n_distinct_grams"),
          ((col("n_tokens") - col("n_distinct_tokens")).cast("double") /
            col("n_tokens")).as("dup_token_ratio"),
          when(col("n_grams") > 0,
            (col("n_grams") - col("n_distinct_grams")).cast("double") /
              col("n_grams")).otherwise(0.0).as("dup_gram_ratio"),
          ((col("n_grams") - col("n_distinct_grams")) * 5 > col("n_grams"))
            .as("is_repetitive"))
        .orderBy("doc_id")
    },

    // ---- PII redaction: find-and-mask emails and phone numbers in a
    //      contact line derived from events (the corpus proper is
    //      synthetic word soup with no PII, so the line is constructed
    //      deterministically from event fields — the regex machinery and
    //      global-replace semantics are what's under test)
    QueryDef.checked(
      "q_pii_redact",
      """WITH lines AS (
        |  SELECT event_id,
        |    concat('user', CAST(user_id AS VARCHAR),
        |           '@example.com called +1-555-',
        |           lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
        |           ' re ', event_type) AS line
        |  FROM events
        |)
        |SELECT event_id,
        |  len(regexp_extract_all(line, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS n_emails,
        |  len(regexp_extract_all(line, '\+1-555-[0-9]{4}')) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(line, '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM lines
        |ORDER BY event_id""".stripMargin) { (spark, dir) =>
      val emailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
      val phoneRe = "\\+1-555-[0-9]{4}"
      Tables(spark, dir).events
        .select(col("event_id"),
          concat(lit("user"), col("user_id").cast("string"),
            lit("@example.com called +1-555-"),
            lpad((col("event_id") % 10000).cast("string"), 4, "0"),
            lit(" re "), col("event_type")).as("line"))
        .select(col("event_id"),
          size(regexp_extract_all(col("line"), lit(emailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("line"), lit(phoneRe), lit(0)))
            .as("n_phones"),
          regexp_replace(
            regexp_replace(col("line"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("event_id")
    },

    // ---- unigram LM quality score: average token surprisal under the
    //      corpus's own unigram distribution (low avg_nll ≈ generic text,
    //      high ≈ rare-token-heavy). Vocabulary profile is one groupBy;
    //      scoring is a broadcast join — the corpus is scanned twice and
    //      shuffled only by (tok) and (doc_id).
    QueryDef.checked(
      "q_unigram_logprob",
      s"""WITH $duckNllCtes
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(nll), 6) AS avg_nll,
         |  round(min(nll), 6) AS min_nll,
         |  round(max(nll), 6) AS max_nll
         |FROM scored GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      scoredNll(Tables(spark, dir).documents)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("nll")), 6).as("avg_nll"),
          round(min(col("nll")), 6).as("min_nll"),
          round(max(col("nll")), 6).as("max_nll"))
        .orderBy("doc_id")
    },

    // ---- perplexity-bucket resampling (the CCNet recipe): score docs
    //      by unigram surprisal, split into terciles (head = most
    //      generic, tail = rarest), keep 10%/50%/100% by content hash.
    //      The global ntile is fine here because it ranks the PER-DOC
    //      aggregate (one row per doc); at 100 TB the terciles come from
    //      approx_percentile cutoffs instead of a global sort, and the
    //      keep-filter stays a stateless hash test either way.
    QueryDef.checked(
      "q_ppl_buckets",
      s"""WITH $duckNllCtes
        |, $duckPplKeepCtes
        |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(sum(CAST(round(avg_nll * 1000000) AS BIGINT)) / 1000000.0 / count(*), 6) AS mean_nll
        |FROM ppl_keep
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (spark, dir) =>
      pplKeep(Tables(spark, dir).documents)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          sum(expr("CAST(round(avg_nll * 1000000) AS BIGINT)")).as("ss"))
        .select(col("bucket"), col("n_docs"), col("n_kept"),
          round(col("ss") / lit(1000000.0) / col("n_docs"), 6).as("mean_nll"))
        .orderBy("bucket")
    },

    // ---- chunk-level cross-doc dedup: split each doc into 10-token
    //      chunks, keep only each chunk's FIRST occurrence corpus-wide
    //      (order by doc_id, position), and fingerprint what remains of
    //      each doc — the line/paragraph-dedup pass crawl pipelines run
    //      before whole-doc dedup
    QueryDef.checked(
      "q_chunk_dedup",
      """WITH sp AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), ch AS (
        |  SELECT doc_id,
        |    list_transform(range(CAST(ceil(len(toks) / 10.0) AS INT)),
        |      i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) AS chunks
        |  FROM sp
        |), ex AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |    unnest(range(len(chunks))) AS pos
        |  FROM ch
        |), marked AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM ex
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_chunks FROM ex GROUP BY doc_id
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(chunk, ' ' ORDER BY pos)) AS kept_sig
        |  FROM marked WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_chunks,
        |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept, k.kept_sig
        |FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
      val chunked = Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), expr(
          """transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),
            |  i -> concat_ws(' ', slice(toks, i*10+1, 10)))""".stripMargin)
          .as("chunks"))
        .select(col("doc_id"),
          posexplode(col("chunks")).as(Seq("pos", "chunk")))
        .transform(localCheckpoint) // feeds both the totals and the keep-first rank
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("chunk").orderBy("doc_id", "pos")
      val tot = chunked.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val kept = chunked
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(expr(
            "concat_ws(' ', transform(sort_array(collect_list(struct(pos, chunk))), s -> s.chunk))"))
            .as("kept_sig"))
      tot.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_sig"))
        .orderBy("doc_id")
    },

    // ---- shard manifest: deterministic md5-hash sharding (the stable
    //      alternative to round-robin for reproducible training runs) with
    //      per-shard size accounting — balance comes from the hash, not a
    //      central assignment loop
    QueryDef.checked(
      "q_shard_manifest",
      """SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (
        |  SELECT doc_id, n_chars, text,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS shard
        |  FROM documents)
        |GROUP BY shard
        |ORDER BY shard""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).as("n_toks"),
          (Dedup.md5h64(col("doc_id").cast("string")) % 16).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(col("n_toks")).cast("long").as("total_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("shard")
    },

    // ---- composite quality filter: first-failing-rule attribution per
    //      doc, aggregated per (lang, reason) — the keep/drop funnel
    //      report a curation run ends with. All thresholds compare
    //      integers so the verdicts are bit-stable.
    QueryDef.checked(
      "q_doc_filter_pipeline",
      s"""WITH feats AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
         |    len(list_filter(string_split(text, ' '), t -> t IN $stopSqlList)) AS n_stop,
         |    len(${Dedup.duckGrams}) AS n_grams,
         |    len(list_distinct(${Dedup.duckGrams})) AS n_distinct_grams
         |  FROM documents
         |), verdicts AS (
         |  SELECT lang,
         |    CASE WHEN n_tokens < 20 THEN 'too_short'
         |         WHEN n_distinct * 5 < n_tokens THEN 'low_diversity'
         |         WHEN n_stop * 2 > n_tokens THEN 'stopword_heavy'
         |         WHEN (n_grams - n_distinct_grams) * 5 > n_grams THEN 'repetitive'
         |         ELSE 'keep' END AS reason
         |  FROM feats
         |)
         |SELECT lang, reason, count(*) AS n_docs
         |FROM verdicts
         |GROUP BY lang, reason
         |ORDER BY lang, reason""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .select(col("lang"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          size(expr(s"filter(toks, t -> array_contains($stopArr, t))")).as("n_stop"),
          size(expr(Dedup.gramsExpr)).as("n_grams"),
          size(array_distinct(expr(Dedup.gramsExpr))).as("n_distinct_grams"))
        .select(col("lang"),
          when(col("n_tokens") < 20, "too_short")
            .when(col("n_distinct") * 5 < col("n_tokens"), "low_diversity")
            .when(col("n_stop") * 2 > col("n_tokens"), "stopword_heavy")
            .when((col("n_grams") - col("n_distinct_grams")) * 5 > col("n_grams"),
              "repetitive")
            .otherwise("keep").as("reason"))
        .groupBy("lang", "reason")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "reason")
    },

    // ---- bigram LM scoring with add-1 smoothing: per-doc average
    //      −ln((c₂+1)/(c₁+V)) over word bigrams — the conditional
    //      upgrade of q_unigram_logprob, same fixed-point 1e-9 term
    //      rounding so the per-doc sum is partition-invariant. The
    //      count relations are vocabulary²-bounded (broadcast side);
    //      only the bigram stream is corpus-sized, and it is counted
    //      and scored in the SAME shape (one shuffle on the pair).
    QueryDef.checked(
      "q_bigram_lm",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents
        |), bg AS (
        |  SELECT doc_id, p.l AS w1, p.r AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(a)),
        |      i -> {'l': a[i], 'r': a[i+1]})) AS p
        |    FROM toks WHERE len(a) >= 2)
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
        |), v AS (
        |  SELECT count(DISTINCT w2) AS vs FROM bg
        |), scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln((c2.n2 + 1.0) / (c1.n1 + v.vs)) * 1000000000)
        |      AS BIGINT) AS nll_fp
        |  FROM bg b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |  JOIN c1 ON c1.w1 = b.w1
        |  CROSS JOIN v
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(nll_fp) / 1000000000.0 / count(*), 6) AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val bg = Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(a) - 2)," +
            " i -> struct(a[i] AS w1, a[i + 1] AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .transform(localCheckpoint) // four consumers share one explosion
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
      val v = bg.agg(countDistinct(col("w2")).as("vs"))
      bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"), expr(
          "CAST(round(-ln((n2 + 1.0) / (n1 + vs)) * 1000000000) AS BIGINT)")
          .as("nll_fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll_fp")) / lit(1000000000.0) / count(lit(1)), 6)
            .as("avg_nll"))
        .orderBy("doc_id")
    },

    // ---- curriculum ordering: stage docs easiest-first (shorter docs
    //      = earlier stage via a length quartile), then shuffle
    //      deterministically WITHIN each stage by md5(doc_id) so every
    //      rerun and every engine derives the identical training order
    //      (the curriculum twin of q_global_shuffle, which is stageless).
    //      Scale: ntile over a single global ORDER BY is the small-corpus
    //      shortcut — the 100 TB cut derives stage bounds from
    //      approx_percentile(n_chars) in one pass and labels by range
    //      (no global sort), then sorts WITHIN stages only, keyed by
    //      (stage, md5) — a sortWithinPartitions after repartition(stage).
    QueryDef.checked(
      "q_curriculum_order",
      """WITH staged AS (
        |  SELECT doc_id, n_chars,
        |    ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage,
        |    md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents
        |)
        |SELECT CAST(row_number() OVER (ORDER BY stage, shuffle_key, doc_id)
        |    AS BIGINT) AS step,
        |  doc_id, stage, n_chars
        |FROM staged
        |ORDER BY step""".stripMargin) { (spark, dir) =>
      // both the stage tertiles and the step numbering ride RangeRank —
      // corpus-sized orderings, no single-partition window
      val p = spark.sessionState.conf.numShufflePartitions
      val staged = graft.util.RangeRank.withGlobalNtile(
          Tables(spark, dir).documents.select(col("doc_id"), col("n_chars")),
          "stage", 4, p, col("n_chars"), col("doc_id"))
        .withColumn("shuffle_key", md5(col("doc_id").cast("string")))
      graft.util.RangeRank.withGlobalRank(staged, "step", p,
          col("stage"), col("shuffle_key"), col("doc_id"))
        .select(col("step"), col("doc_id"), col("stage"), col("n_chars"))
        .orderBy("step")
    },

    // ---- interpolated Kneser-Ney bigram scoring (D=0.75): the standard
    //      smoothed LM upgrade of q_bigram_lm — continuation probability
    //      from distinct-predecessor counts, absolute discounting on the
    //      observed bigram mass. Count relations are vocabulary-bounded
    //      (broadcast); the bigram stream is the only corpus-sized
    //      relation and is counted and scored in the SAME shape. Per-term
    //      1e-9 fixed-point rounding keeps the per-doc sums partition-
    //      order invariant.
    QueryDef.checked(
      "q_kneser_ney",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents
        |), bg AS (
        |  SELECT doc_id, p.l AS w1, p.r AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(a)),
        |      i -> {'l': a[i], 'r': a[i+1]})) AS p
        |    FROM toks WHERE len(a) >= 2)
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1, count(*) AS n_after
        |  FROM c2 GROUP BY w1
        |), cont AS (
        |  SELECT w2, count(*) AS n_before FROM c2 GROUP BY w2
        |), npairs AS (
        |  SELECT count(*) AS np FROM c2
        |), scored AS (
        |  -- e-notation literals: plain 0.75 parses as DECIMAL in both
        |  -- engines, and their decimal-division scale rules differ;
        |  -- 0.75e0 is a DOUBLE everywhere, so the arithmetic is IEEE-
        |  -- identical
        |  SELECT b.doc_id,
        |    CAST(round(-ln(
        |      (greatest(CAST(c2.n2 AS DOUBLE) - 0.75e0, 0e0)
        |       + 0.75e0 * c1.n_after * (CAST(cont.n_before AS DOUBLE) / npairs.np))
        |      / c1.n1
        |    ) * 1000000000) AS BIGINT) AS nll_fp
        |  FROM bg b
        |  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |  JOIN c1 ON c1.w1 = b.w1
        |  JOIN cont ON cont.w2 = b.w2
        |  CROSS JOIN npairs
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(nll_fp) / 1000000000.0 / count(*), 6) AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val bg = Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(a) - 2)," +
            " i -> struct(a[i] AS w1, a[i + 1] AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .transform(localCheckpoint) // five consumers share one explosion
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        .transform(localCheckpoint) // c1/cont/npairs all derive from c2
      val c1 = c2.groupBy("w1")
        .agg(sum(col("n2")).cast("long").as("n1"), count(lit(1)).as("n_after"))
      val cont = c2.groupBy("w2").agg(count(lit(1)).as("n_before"))
      val np = c2.agg(count(lit(1)).as("np"))
      bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .join(broadcast(cont), Seq("w2"))
        .crossJoin(broadcast(np))
        .select(col("doc_id"), expr(
          """CAST(round(-ln(
            |  (greatest(CAST(n2 AS DOUBLE) - 0.75e0, 0e0)
            |   + 0.75e0 * n_after * (CAST(n_before AS DOUBLE) / np)) / n1
            |) * 1000000000) AS BIGINT)""".stripMargin).as("nll_fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll_fp")) / lit(1000000000.0) / count(lit(1)), 6)
            .as("avg_nll"))
        .orderBy("doc_id")
    },

    // ---- span-corruption mask plan (the T5 denoising recipe): each
    //      token masks independently at 15% via a deterministic
    //      (doc_id, position) hash, consecutive masked tokens merge
    //      into spans (one sentinel each), and the plan reports per-doc
    //      mask/span statistics. The mask is pure per-row arithmetic —
    //      the span merge is the only window, keyed by doc so it
    //      shuffles once on doc_id and never globally. At 100 TB the
    //      plan is a column you WRITE (mask array per doc), not a
    //      report; the same hash makes every epoch's corruption
    //      reproducible.
    QueryDef.checked(
      "q_span_mask_plan",
      """WITH tok AS (
        |  SELECT doc_id, i,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':', CAST(i AS VARCHAR))), 1, 6)) AS INT) % 100 < 15 AS masked
        |  FROM (SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS i
        |        FROM documents)
        |), spans AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM tok WHERE masked
        |), per_span AS (
        |  SELECT doc_id, island, count(*) AS span_len
        |  FROM spans GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS n_masked,
        |    count(*) AS n_spans, CAST(max(span_len) AS BIGINT) AS max_span
        |  FROM per_span GROUP BY doc_id
        |), base AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(p.n_masked, CAST(0 AS BIGINT)) AS n_masked,
        |  coalesce(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(p.max_span, CAST(0 AS BIGINT)) AS max_span,
        |  round(coalesce(p.n_masked, CAST(0 AS BIGINT)) * 1.0 / b.n_tokens, 6)
        |    AS mask_rate
        |FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      val tok = docs
        .select(col("doc_id"),
          explode(expr("sequence(0, size(split(text, ' ')) - 1)")).as("i"))
        .filter(conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("i").cast("string"))), 1, 6), 16, 10)
          .cast("int") % 100 < 15)
      val perSpan = tok
        .withColumn("island",
          col("i") - row_number().over(
            Window.partitionBy("doc_id").orderBy("i")))
        .groupBy("doc_id", "island").agg(count(lit(1)).as("span_len"))
      val perDoc = perSpan.groupBy("doc_id")
        .agg(sum(col("span_len")).cast("long").as("n_masked"),
          count(lit(1)).as("n_spans"),
          max(col("span_len")).cast("long").as("max_span"))
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("max_span"), lit(0L)).as("max_span"),
          round(coalesce(col("n_masked"), lit(0L)) * lit(1.0) / col("n_tokens"), 6)
            .as("mask_rate"))
        .orderBy("doc_id")
    },

    // ---- held-out perplexity: fit the unigram LM on the 80% hash
    //      split, score ONLY the 20% held-out docs with add-1 smoothing
    //      over the train vocabulary — the honest eval twin of
    //      q_unigram_logprob (which scores in-sample). Per-lang average
    //      nll plus the held-out OOV rate: rising OOV is the signal the
    //      split leaked or the corpus drifted. Train counts are
    //      vocab-sized and broadcast; both scans are one pass each.
    QueryDef.checked(
      "q_heldout_ppl",
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
        |      AS INT) % 10 < 8 AS is_train
        |  FROM documents
        |), train_freq AS (
        |  SELECT tok, count(*) AS c FROM toks WHERE is_train GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM train_freq
        |), scored AS (
        |  SELECT k.lang,
        |    CAST(round(-ln((coalesce(f.c, 0) + 1.0e0) / (tot.t + tot.v))
        |      * 1000000000) AS BIGINT) AS nll_fp,
        |    CASE WHEN f.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM toks k
        |  LEFT JOIN train_freq f ON f.tok = k.tok
        |  CROSS JOIN tot
        |  WHERE NOT k.is_train
        |)
        |SELECT lang, count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(sum(nll_fp) / 1000000000.0 / count(*), 6) AS avg_nll
        |FROM scored GROUP BY lang
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val toks = Tables.spread(Tables(spark, dir).documents)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("is_train",
          conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("int") % 10 < 8)
        .transform(localCheckpoint) // feeds the train profile AND the test scan
      val trainFreq = toks.filter(col("is_train"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = trainFreq.agg(sum(col("c")).cast("long").as("t"),
        count(lit(1)).cast("long").as("v"))
      toks.filter(!col("is_train"))
        .join(broadcast(trainFreq), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .select(col("lang"),
          expr("""CAST(round(-ln((coalesce(c, 0) + 1.0e0) / (t + v))
                |  * 1000000000) AS BIGINT)""".stripMargin).as("nll_fp"),
          when(col("c").isNull, 1).otherwise(0).as("oov"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("oov")).cast("long").as("n_oov"),
          round(sum(col("nll_fp")) / lit(1000000000.0) / count(lit(1)), 6)
            .as("avg_nll"))
        .orderBy("lang")
    },

    // ---- NMF topic step (one Lee-Seung multiplicative update of H on
    //      the source×term count matrix, k = 2 topics): H ← H ⊙ WᵀV ⊘
    //      (WᵀW)H. After the ONE corpus aggregate that builds V
    //      (top-50-vocab-filtered (source, term) counts), every matrix
    //      product is a join over k×|vocab| / k×k / |sources|×k bounded
    //      relations — the 100 TB cost is the V build, exactly like
    //      every factorization step here (q_als_step discipline).
    //      Deterministic hash init replaces random init so the update
    //      replays bit-identically; iterating alternates the H and W
    //      updates with the factor relations swapped.
    QueryDef.checked(
      "q_nmf_step",
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 50) v
        |), v AS (
        |  SELECT t.source, t.tok, CAST(count(*) AS DOUBLE) AS x
        |  FROM toks t JOIN vocab vb ON vb.tok = t.tok
        |  GROUP BY t.source, t.tok
        |), w0 AS (
        |  SELECT source, k,
        |    0.5 + (CAST(concat('0x', substring(md5(concat(source, '|',
        |      CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 AS w
        |  FROM (SELECT DISTINCT source FROM v) s,
        |    (SELECT 0 AS k UNION ALL SELECT 1) kk
        |), h0 AS (
        |  SELECT k, tok,
        |    0.5 + (CAST(concat('0x', substring(md5(concat(
        |      CAST(k AS VARCHAR), '|', tok)), 1, 8)) AS BIGINT) % 1000)
        |      / 1000.0 AS h
        |  FROM vocab, (SELECT 0 AS k UNION ALL SELECT 1) kk
        |), wtv AS (
        |  SELECT w0.k, v.tok, CAST(sum(CAST(w0.w * v.x AS DECIMAL(38,15))) AS DOUBLE) AS a
        |  FROM w0 JOIN v ON v.source = w0.source
        |  GROUP BY w0.k, v.tok
        |), wtw AS (
        |  SELECT a.k AS k1, b.k AS k2, CAST(sum(CAST(a.w * b.w AS DECIMAL(38,15))) AS DOUBLE) AS g
        |  FROM w0 a JOIN w0 b ON b.source = a.source
        |  GROUP BY a.k, b.k
        |), wtwh AS (
        |  SELECT ww.k1 AS k, h0.tok, CAST(sum(CAST(ww.g * h0.h AS DECIMAL(38,15))) AS DOUBLE) AS b
        |  FROM wtw ww JOIN h0 ON h0.k = ww.k2
        |  GROUP BY ww.k1, h0.tok
        |)
        |SELECT h0.k, h0.tok,
        |  round(h0.h, 6) AS h_old,
        |  round(h0.h * wtv.a / wtwh.b, 6) AS h_new
        |FROM h0
        |JOIN wtv ON wtv.k = h0.k AND wtv.tok = h0.tok
        |JOIN wtwh ON wtwh.k = h0.k AND wtwh.tok = h0.tok
        |ORDER BY h0.k, h0.tok""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val toks = Tables(spark, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(50).select("tok")
      val v = toks.join(broadcast(vocab), Seq("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).cast("double").as("x"))
        .transform(localCheckpoint) // source list, WᵀV, and the final join
      val ks = Seq(0, 1).toDF("k")
      def hashInit(parts: org.apache.spark.sql.Column) =
        lit(0.5) + (conv(substring(md5(parts), 1, 8), 16, 10).cast("long")
          % 1000) / lit(1000.0)
      val w0 = v.select("source").distinct().crossJoin(broadcast(ks))
        .select(col("source"), col("k"),
          hashInit(concat(col("source"), lit("|"), col("k").cast("string")))
            .as("w"))
      val h0 = vocab.crossJoin(broadcast(ks))
        .select(col("k"), col("tok"),
          hashInit(concat(col("k").cast("string"), lit("|"), col("tok")))
            .as("h"))
        .transform(localCheckpoint) // (WᵀW)H and the final update both read it
      val wtv = w0.join(v, Seq("source"))
        .groupBy("k", "tok").agg(sum((col("w") * col("x"))
          .cast("decimal(38,15)")).cast("double").as("a"))
      val wtw = w0.select(col("source"), col("k").as("k1"), col("w").as("wa"))
        .join(w0.select(col("source"), col("k").as("k2"), col("w").as("wb")),
          Seq("source"))
        .groupBy("k1", "k2").agg(sum((col("wa") * col("wb"))
          .cast("decimal(38,15)")).cast("double").as("g"))
      val wtwh = wtw.join(h0.select(col("k").as("k2"), col("tok"),
          col("h")), Seq("k2"))
        .groupBy(col("k1").as("k"), col("tok"))
        .agg(sum((col("g") * col("h")).cast("decimal(38,15)"))
          .cast("double").as("b"))
      h0.join(wtv, Seq("k", "tok")).join(wtwh, Seq("k", "tok"))
        .select(col("k"), col("tok"), round(col("h"), 6).as("h_old"),
          round(col("h") * col("a") / col("b"), 6).as("h_new"))
        .orderBy("k", "tok")
    }
  )
}
