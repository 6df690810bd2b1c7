package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Text-analysis operator family (north star): corpus statistics,
  * language identification, quality scoring, token counting, and
  * document fingerprinting over `documents`.
  *
  * Every query is oracle-checked. Numeric discipline: all similarity /
  * ratio outputs are exact integer divisions in double (bit-identical
  * across engines); the only float aggregation (lang-id scores) rounds at
  * the edge and ranks on the rounded value.
  */
object TextAnalysis {

  /** Stopword lexicon used by the quality score (tokens present in the
    * corpus vocabulary — FIXTURES.md word-soup). */
  private[operators] val stopwords = Seq("the", "a", "of", "and")

  /** The lexicon quoted for a DuckDB IN-list / a Spark SQL array literal
    * — single definitions so Training/Curation cannot drift from the
    * queries here. */
  private[operators] val stopSqlList =
    stopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Shared lang-id prediction chain ending in `lranked(doc_id,
    * pred_lang, score, rn)` — one CTE string + one DataFrame builder
    * shared by [[q_lang_id]] and the confusion-matrix eval, so the eval
    * can never score a different model than the deployed one. */
  private val duckLangPredCtes =
    """ltoks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
      |), lprof AS (
      |  SELECT lang AS plang, tok,
      |    CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY lang) AS p
      |  FROM ltoks GROUP BY lang, tok
      |), lscores AS (
      |  SELECT t.doc_id, p.plang, sum(p.p) AS score
      |  FROM ltoks t JOIN lprof p ON p.tok = t.tok
      |  GROUP BY t.doc_id, p.plang
      |), lranked AS (
      |  SELECT doc_id, plang AS pred_lang, round(score, 6) AS score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 9) DESC, plang) AS rn
      |  FROM lscores
      |)""".stripMargin

  /** Spark twin of [[duckLangPredCtes]]: the winning prediction per doc
    * as (doc_id, plang, raw_score). */
  private def langPredicted(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val prof = toks.groupBy(col("lang").as("plang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("p", col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy("plang")))
      .select("plang", "tok", "p")
    toks.join(broadcast(prof), Seq("tok"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(col("p")).as("raw_score"))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(round(col("raw_score"), 9).desc, col("plang"))))
      .filter(col("rn") === 1)
      .select("doc_id", "plang", "raw_score")
  }
  private[operators] val stopArrLit =
    stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- corpus stats per (lang, source)
    QueryDef.checked(
      "q_text_stats",
      """SELECT lang, source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          sum(size(split(col("text"), " "))).cast("long").as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "source")
    },

    // ---- language ID: self-trained unigram profiles (P(token|lang) from
    //      the labeled corpus), docs scored by summed token probability,
    //      argmax via ranked window. Fully relational: profile build is
    //      one shuffle, scoring is a broadcast-sized join at any corpus
    //      scale (vocab × langs is small). The prediction chain is
    //      shared with the confusion-matrix query below.
    QueryDef.checked(
      "q_lang_id",
      s"""WITH $duckLangPredCtes
         |SELECT doc_id, pred_lang, score FROM lranked WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      langPredicted(Tables(spark, dir).documents)
        .select(col("doc_id"), col("plang").as("pred_lang"),
          round(col("raw_score"), 6).as("score"))
        .orderBy("doc_id")
    },

    // ---- classifier evaluation: confusion matrix of the lang-id
    //      predictions against the labeled lang, with per-actual-class
    //      recall share — the eval table every classifier change ships
    //      with. Reuses the exact prediction chain of q_lang_id (one
    //      definition, so the eval can never score a different model
    //      than the one deployed); the matrix is |langs|² rows out of
    //      one corpus scoring pass plus a doc_id-colocated label join.
    QueryDef.checked(
      "q_lang_confusion",
      s"""WITH $duckLangPredCtes,
         |pred AS (SELECT doc_id, pred_lang FROM lranked WHERE rn = 1)
         |SELECT d.lang AS actual, p.pred_lang AS predicted, count(*) AS n,
         |  round(CAST(count(*) AS DOUBLE)
         |    / sum(count(*)) OVER (PARTITION BY d.lang), 6) AS recall_share
         |FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |GROUP BY d.lang, p.pred_lang
         |ORDER BY actual, predicted""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      langPredicted(docs)
        .select(col("doc_id"), col("plang").as("predicted"))
        .join(docs.select(col("doc_id"), col("lang").as("actual")), Seq("doc_id"))
        .groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"))
        .withColumn("recall_share",
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy("actual")), 6))
        .orderBy("actual", "predicted")
    },

    // ---- quality scoring: length / type-token ratio / stopword ratio,
    //      with a keep/drop flag (the usual pretraining-filter shape)
    QueryDef.checked(
      "q_quality_score",
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
         |    length(replace(text, ' ', '')) AS n_letter_chars,
         |    len(list_filter(string_split(text, ' '), t -> t IN $stopSqlList)) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, n_tokens, n_distinct,
         |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
         |  CAST(n_letter_chars AS DOUBLE) / n_tokens AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
         |  (n_tokens >= 20 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.2
         |    AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.5) AS keep
         |FROM feats
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val stopArr = stopArrLit
      Tables(spark, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).as("n_distinct"),
          length(regexp_replace(col("text"), " ", "")).as("n_letter_chars"),
          size(expr(s"filter(split(text, ' '), t -> array_contains($stopArr, t))"))
            .as("n_stop"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_letter_chars").cast("double") / col("n_tokens")).as("avg_token_len"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
          (col("n_tokens") >= 20 &&
            col("n_distinct").cast("double") / col("n_tokens") >= 0.2 &&
            col("n_stop").cast("double") / col("n_tokens") <= 0.5).as("keep"))
        .orderBy("doc_id")
    },

    // ---- token counting: whitespace tokens + BPE-ish regex word pieces
    QueryDef.checked(
      "q_token_count",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
        |  n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("re_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- TF-IDF: top-3 most characteristic tokens per document (ranked
    //      on the ROUNDED score in both engines so libm-vs-Math.log ulp
    //      differences can't flip near-tie rankings)
    QueryDef.checked(
      "q_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS dft FROM toks GROUP BY tok
        |), n AS (
        |  SELECT count(*) AS nd FROM documents
        |), scored AS (
        |  SELECT doc_id, tok, tf,
        |    round(tf * ln(CAST(nd AS DOUBLE) / dft), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, tok, tfidf, rnk FROM ranked
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("dft"))
      val n = docs.agg(count(lit(1)).as("nd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
      tf.join(broadcast(dfreq), Seq("tok"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("tf"),
          round(col("tf") * log(col("nd").cast("double") / col("dft")), 6)
            .as("tfidf"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    },

    // ---- deterministic hash-based train/val/test split (reproducible
    //      80/10/10 — the production-safe alternative to random sampling)
    QueryDef.checked(
      "q_deterministic_split",
      """SELECT lang, split, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN h < 80 THEN 'train'
        |         WHEN h < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT lang,
        |      CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS h
        |    FROM documents) hashed) s
        |GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("lang"),
          (Dedup.md5h64(col("doc_id").cast("string")) % 100).as("h"))
        .select(col("lang"),
          when(col("h") < 80, "train")
            .when(col("h") < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },

    // ---- document fingerprint: md5 over the sorted distinct token set
    //      (key-collapse fingerprint — word order / repetition invariant)
    QueryDef.checked(
      "q_fingerprint",
      """SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents) t
        |GROUP BY fingerprint
        |ORDER BY keep_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .select("fingerprint", "keep_id", "n_docs")
        .orderBy("keep_id")
    },

    // ---- edit distance: Levenshtein between consecutive docs' 40-char
    //      prefixes (integer DP — bit-identical across engines), with a
    //      length-normalized similarity ratio
    QueryDef.checked(
      "q_edit_distance",
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS lev,
        |  1.0 - CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS DOUBLE)
        |      / greatest(length(substring(a.text, 1, 40)), length(substring(b.text, 1, 40))) AS sim
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
        .select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
        .transform(localCheckpoint) // both sides of the consecutive-id self-join
      val a = docs.select(col("doc_id").as("doc_a"), col("prefix").as("pa"))
      val b = docs.select(col("doc_id").as("doc_b"), col("prefix").as("pb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).as("lev"),
          (lit(1.0) - levenshtein(col("pa"), col("pb")).cast("double") /
            greatest(length(col("pa")), length(col("pb")))).as("sim"))
        .orderBy("doc_a")
    },

    // ---- per-doc token entropy + evenness: Shannon entropy of each
    //      doc's own token distribution (the per-document twin of the
    //      corpus-level q_token_entropy) and its ln(n_distinct)-
    //      normalized evenness. The gibberish axis the length/stopword
    //      quality score misses: near-zero evenness = one token looped
    //      (spam), near-one = every token unique (random noise); prose
    //      sits between. Two map-side-combined groupBys keyed by
    //      doc_id(+token) — per-doc state is its vocabulary, never the
    //      corpus. Per-token −p·ln(p) contributions go to 1e-9
    //      fixed-point BIGINTs before the per-doc sum, so the entropy
    //      replays bit-identically at any partition count.
    QueryDef.checked(
      "q_doc_entropy",
      """WITH etoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), etf AS (
        |  SELECT doc_id, tok, count(*) AS c FROM etoks GROUP BY doc_id, tok
        |), edl AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS len,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM etf GROUP BY doc_id
        |), ec AS (
        |  SELECT t.doc_id,
        |    CAST(round(-(CAST(t.c AS DOUBLE) / l.len)
        |      * ln(CAST(t.c AS DOUBLE) / l.len) * 1000000000) AS BIGINT) AS e
        |  FROM etf t JOIN edl l ON l.doc_id = t.doc_id
        |)
        |SELECT c.doc_id, l.len AS n_tokens, l.nd AS n_distinct,
        |  round(CAST(sum(e) AS BIGINT) / 1000000000.0, 6) AS entropy,
        |  round(CASE WHEN l.nd > 1
        |    THEN CAST(sum(e) AS BIGINT) / 1000000000.0 / ln(CAST(l.nd AS DOUBLE))
        |    ELSE 0 END, 6) AS evenness
        |FROM ec c JOIN edl l ON l.doc_id = c.doc_id
        |GROUP BY c.doc_id, l.len, l.nd
        |ORDER BY c.doc_id""".stripMargin) { (spark, dir) =>
      val tf = Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val dl = tf.groupBy("doc_id")
        .agg(sum(col("c")).cast("long").as("len"),
          count(lit(1)).cast("long").as("nd"))
      tf.join(dl, Seq("doc_id"))
        .select(col("doc_id"), col("len"), col("nd"), expr(
          """CAST(round(-(CAST(c AS DOUBLE) / len)
            |  * ln(CAST(c AS DOUBLE) / len) * 1000000000) AS BIGINT)"""
            .stripMargin).as("e"))
        .groupBy("doc_id", "len", "nd")
        .agg(sum(col("e")).cast("long").as("es"))
        .select(col("doc_id"), col("len").as("n_tokens"),
          col("nd").as("n_distinct"),
          round(col("es") / lit(1000000000.0), 6).as("entropy"),
          round(when(col("nd") > 1,
            col("es") / lit(1000000000.0) / log(col("nd").cast("double")))
            .otherwise(0d), 6).as("evenness"))
        .orderBy("doc_id")
    },

    // ---- text normalization: the lowercase → strip-non-alnum →
    //      collapse-whitespace → trim pipeline every corpus runs before
    //      tokenization, reported per doc with before/after sizes and a
    //      post-normalization fingerprint (the dedup key the CLEANED
    //      corpus hashes on). Stateless per-row map — scan-stage
    //      codegen, zero shuffle besides the presentation sort; the
    //      regexes are simple character classes that Java and RE2
    //      evaluate identically.
    QueryDef.checked(
      "q_text_normalize",
      """SELECT doc_id, n_chars AS orig_chars,
        |  length(norm) AS norm_chars,
        |  len(string_split(norm, ' ')) AS norm_tokens,
        |  length(norm) < n_chars AS shrank,
        |  md5(norm) AS norm_sig
        |FROM (
        |  SELECT doc_id, n_chars,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm
        |  FROM documents
        |)
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), col("n_chars"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", ""), "  +", " ")).as("norm"))
        .select(col("doc_id"), col("n_chars").as("orig_chars"),
          length(col("norm")).as("norm_chars"),
          size(split(col("norm"), " ")).as("norm_tokens"),
          (length(col("norm")) < col("n_chars")).as("shrank"),
          md5(col("norm")).as("norm_sig"))
        .orderBy("doc_id")
    },

    // ---- continuation-leak detection: doc B starting with the exact
    //      3-token suffix of doc A suggests A,B are split halves of one
    //      source document (a chunked-crawl artifact that silently
    //      doubles effective epoch count). Fingerprints are md5 of the
    //      3-token edge spans; the candidate join is hash = hash — at
    //      100 TB both fingerprint relations are corpus-sized but the
    //      join keys are uniform md5s (no skew), and the output is
    //      bounded by true collisions, not the cross product.
    QueryDef.checked(
      "q_prefix_suffix_leak",
      """WITH sig AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS pre_sig,
        |    md5(array_to_string(string_split(text, ' ')[-3:], ' ')) AS suf_sig
        |  FROM documents
        |)
        |SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc
        |FROM sig a JOIN sig b ON a.suf_sig = b.pre_sig
        |WHERE a.doc_id <> b.doc_id
        |ORDER BY tail_doc, head_doc""".stripMargin) { (spark, dir) =>
      val toks = split(col("text"), " ")
      val sig = Tables(spark, dir).documents
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(toks, 1, 3))).as("pre_sig"),
          md5(concat_ws(" ", slice(toks, -3, 3))).as("suf_sig"))
      sig.as("a").join(sig.as("b"),
          col("a.suf_sig") === col("b.pre_sig") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("tail_doc"), col("b.doc_id").as("head_doc"))
        .orderBy("tail_doc", "head_doc")
    },

    // ---- tokenizer fertility audit: pieces-per-word under a
    //      fixed-width 4-chars-per-piece proxy tokenizer, per language —
    //      the pre-training health check that catches a tokenizer
    //      mismatched to a language's word lengths. Pure per-row array
    //      arithmetic folded to one integer aggregate per lang: zero
    //      extra shuffles, whole-stage codegen end to end.
    QueryDef.checked(
      "q_tokenizer_fertility",
      """WITH t AS (
        |  SELECT lang, string_split(text, ' ') AS toks FROM documents
        |), pw AS (
        |  SELECT lang,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks,
        |      w -> (length(w) + 3) // 4)) AS BIGINT) AS n_pieces,
        |    CAST(len(list_filter(toks, w -> length(w) > 6)) AS BIGINT) AS n_long
        |  FROM t
        |)
        |SELECT lang, CAST(sum(n_words) AS BIGINT) AS words,
        |  CAST(sum(n_pieces) AS BIGINT) AS pieces,
        |  round(sum(n_pieces) * 1.0 / sum(n_words), 6) AS fertility,
        |  round(sum(n_long) * 1.0 / sum(n_words), 6) AS long_word_rate
        |FROM pw GROUP BY lang
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("lang"), split(col("text"), " ").as("toks"))
        .select(col("lang"),
          size(col("toks")).cast("long").as("n_words"),
          expr("aggregate(toks, 0L, (acc, w) -> acc + (length(w) + 3) div 4)")
            .as("n_pieces"),
          size(expr("filter(toks, w -> length(w) > 6)")).cast("long").as("n_long"))
        .groupBy("lang")
        .agg(sum(col("n_words")).cast("long").as("words"),
          sum(col("n_pieces")).cast("long").as("pieces"),
          round(sum(col("n_pieces")) * lit(1.0) / sum(col("n_words")), 6)
            .as("fertility"),
          round(sum(col("n_long")) * lit(1.0) / sum(col("n_words")), 6)
            .as("long_word_rate"))
        .orderBy("lang")
    },

    // ---- Gopher-style rule audit: the classic pretraining quality
    //      rules evaluated per document, reported per rule — the
    //      corpus-health dashboard a filter pipeline is tuned against
    //      (each rule's pass rate BEFORE committing to the conjunction;
    //      q_quality_score applies a fused filter, this measures the
    //      rules one by one). One scan computes all per-doc features,
    //      the per-rule unpivot is a 5-way stack of that one relation —
    //      no rescan per rule (the q_dq_expectations discipline), and
    //      the output is |rules|-sized. Pass rates are exact integer
    //      permille (positive operands — `div` ≡ `//` on every engine
    //      vintage).
    QueryDef.checked(
      "q_gopher_rules",
      """WITH f AS (
        |  SELECT
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(length(w) AS BIGINT))) AS n_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> length(w) > 12)) AS BIGINT) AS n_overlong,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_distinct
        |  FROM documents
        |), v AS (
        |  SELECT
        |    CASE WHEN n_words BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r_word_count,
        |    CASE WHEN n_chars * 10 >= n_words * 30
        |          AND n_chars * 10 <= n_words * 60 THEN 1 ELSE 0 END AS r_mean_word_len,
        |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords,
        |    CASE WHEN n_overlong = 0 THEN 1 ELSE 0 END AS r_no_overlong,
        |    CASE WHEN n_distinct * 10 >= n_words * 3 THEN 1 ELSE 0 END AS r_distinct_ratio
        |  FROM f
        |), u AS (
        |  SELECT 'word_count_20_80' AS rule, r_word_count AS pass FROM v
        |  UNION ALL SELECT 'mean_word_len_3_6', r_mean_word_len FROM v
        |  UNION ALL SELECT 'stopwords_ge_2', r_stopwords FROM v
        |  UNION ALL SELECT 'no_overlong_words', r_no_overlong FROM v
        |  UNION ALL SELECT 'distinct_ratio_ge_030', r_distinct_ratio FROM v
        |)
        |SELECT rule,
        |  CAST(sum(pass) AS BIGINT) AS n_pass,
        |  CAST(count(*) - sum(pass) AS BIGINT) AS n_fail,
        |  CAST(1000 * sum(pass) // count(*) AS BIGINT) AS pass_permille
        |FROM u GROUP BY rule
        |ORDER BY rule""".stripMargin) { (spark, dir) =>
      val feats = Tables(spark, dir).documents
        .select(split(col("text"), " ").as("toks"))
        .select(
          size(col("toks")).cast("long").as("n_words"),
          expr("aggregate(toks, 0L, (acc, w) -> acc + length(w))").as("n_chars"),
          size(expr("filter(toks, w -> w IN ('a', 'the'))")).cast("long")
            .as("n_stop"),
          size(expr("filter(toks, w -> length(w) > 12)")).cast("long")
            .as("n_overlong"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      val verdicts = feats.select(
        when(col("n_words").between(20, 80), 1).otherwise(0).as("r_word_count"),
        when(col("n_chars") * 10 >= col("n_words") * 30 &&
          col("n_chars") * 10 <= col("n_words") * 60, 1).otherwise(0)
          .as("r_mean_word_len"),
        when(col("n_stop") >= 2, 1).otherwise(0).as("r_stopwords"),
        when(col("n_overlong") === 0, 1).otherwise(0).as("r_no_overlong"),
        when(col("n_distinct") * 10 >= col("n_words") * 3, 1).otherwise(0)
          .as("r_distinct_ratio"))
      verdicts
        .select(expr(
          """stack(5,
            |  'word_count_20_80', r_word_count,
            |  'mean_word_len_3_6', r_mean_word_len,
            |  'stopwords_ge_2', r_stopwords,
            |  'no_overlong_words', r_no_overlong,
            |  'distinct_ratio_ge_030', r_distinct_ratio) AS (rule, pass)"""
            .stripMargin))
        .groupBy("rule")
        .agg(sum(col("pass")).cast("long").as("n_pass"),
          (count(lit(1)) - sum(col("pass"))).cast("long").as("n_fail"),
          expr("CAST(1000 * sum(pass) div count(*) AS BIGINT)")
            .as("pass_permille"))
        .orderBy("rule")
    },

    // ---- readability scoring (Flesch reading ease, syllables
    //      approximated as vowel runs): words from the whitespace
    //      tokenizer, sentences from terminal-punctuation counts
    //      (floored at 1), all three counts per-row scalar work that
    //      rides the document scan — no shuffle until the final sort,
    //      which a real pipeline drops (the score joins back onto the
    //      doc row). The quality-filter signal complementary to
    //      q_quality_score's ratio rules.
    QueryDef.checked(
      "q_readability",
      """SELECT doc_id, n_words, n_sents, n_syll,
        |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sents
        |    - 84.6 * CAST(n_syll AS DOUBLE) / n_words, 6) AS flesch
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
        |      AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syll
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          greatest(lit(1),
            size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))))
            .cast("long").as("n_sents"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syll"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          round(lit(206.835)
            - lit(1.015) * col("n_words").cast("double") / col("n_sents")
            - lit(84.6) * col("n_syll").cast("double") / col("n_words"), 6)
            .as("flesch"))
        .orderBy("doc_id")
    },

    // ---- partial top-k merge audit: each source computes a LOCAL
    //      top-10 token list; the merged candidate union is what a
    //      shard-merge serving tier would see. For every TRUE global
    //      top-10 token the report shows how many local lists carried
    //      it and whether the merge recovered it at all — the classic
    //      distributed top-k failure mode (a token ranked 11th in every
    //      shard vanishes globally). Local/global aggregates are
    //      vocab-bounded; the local rank windows partition by source.
    QueryDef.checked(
      "q_partial_topk_merge",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), loc AS (
        |  SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2
        |), ltop AS (
        |  SELECT source, tok FROM (
        |    SELECT source, tok,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, tok)
        |        AS rn
        |    FROM loc)
        |  WHERE rn <= 10
        |), gcnt AS (
        |  SELECT tok, count(*) AS c FROM tok GROUP BY tok
        |), gtop AS (
        |  SELECT tok, c FROM gcnt ORDER BY c DESC, tok LIMIT 10
        |)
        |SELECT g.tok, g.c AS global_count,
        |  CAST(count(l.source) AS BIGINT) AS n_local_lists,
        |  count(l.source) > 0 AS in_merged
        |FROM gtop g LEFT JOIN ltop l ON l.tok = g.tok
        |GROUP BY g.tok, g.c
        |ORDER BY global_count DESC, g.tok""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables(spark, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .transform(localCheckpoint) // feeds the local and global aggregates
      val ltop = tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("tok"))))
        .filter(col("rn") <= 10)
        .select(col("source").as("l_source"), col("tok"))
      val gtop = tok.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(10)
      gtop.join(ltop, Seq("tok"), "left")
        .groupBy("tok", "c")
        .agg(count(col("l_source")).cast("long").as("n_local_lists"))
        .select(col("tok"), col("c").as("global_count"),
          col("n_local_lists"), (col("n_local_lists") > 0).as("in_merged"))
        .orderBy(col("global_count").desc, col("tok"))
    },

    // ---- BLEU-2 between adjacent documents (candidate d vs reference
    //      d+1): clipped unigram/bigram precision (multiset min over
    //      n-gram counts), geometric mean, brevity penalty — the
    //      generation-eval metric, run as pure count joins. Each n-gram
    //      relation shuffles on (doc, gram); the clip join pairs doc d
    //      with d+1 on the gram key. Zero shared bigrams → BLEU 0 (the
    //      standard convention), spelled as a CASE on both engines.
    QueryDef.checked(
      "q_bleu_pairs",
      """WITH u AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id, tok
        |), bgl AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), bg AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(list_transform(t, (x, i) ->
        |      CASE WHEN i + 1 <= len(t)
        |        THEN concat(x, ' ', t[i + 1]) END), v -> v IS NOT NULL))
        |      AS g
        |    FROM bgl)
        |  GROUP BY doc_id, g
        |), lens AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n1 FROM u GROUP BY doc_id
        |), o1 AS (
        |  SELECT a.doc_id, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov1
        |  FROM u a JOIN u b ON b.tok = a.tok AND b.doc_id = a.doc_id + 1
        |  GROUP BY a.doc_id
        |), o2 AS (
        |  SELECT a.doc_id, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov2
        |  FROM bg a JOIN bg b ON b.g = a.g AND b.doc_id = a.doc_id + 1
        |  GROUP BY a.doc_id
        |)
        |SELECT ca.doc_id AS cand_id, ca.doc_id + 1 AS ref_id,
        |  coalesce(o1.ov1, 0) AS clip1, coalesce(o2.ov2, 0) AS clip2,
        |  round(CASE
        |    WHEN coalesce(o1.ov1, 0) = 0 OR coalesce(o2.ov2, 0) = 0 THEN 0.0
        |    ELSE least(1.0, exp(1.0 - CAST(re.n1 AS DOUBLE) / ca.n1))
        |      * sqrt((CAST(o1.ov1 AS DOUBLE) / ca.n1)
        |           * (CAST(o2.ov2 AS DOUBLE) / (ca.n1 - 1))) END, 6)
        |    AS bleu2
        |FROM lens ca
        |JOIN lens re ON re.doc_id = ca.doc_id + 1
        |LEFT JOIN o1 ON o1.doc_id = ca.doc_id
        |LEFT JOIN o2 ON o2.doc_id = ca.doc_id
        |ORDER BY cand_id""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val u = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .transform(localCheckpoint) // both sides of the clip join + lens
      val bg = docs
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """filter(transform(t, (x, i) ->
            |  IF(i + 2 <= size(t), concat(x, ' ', t[i + 1]), NULL)),
            |  v -> v IS NOT NULL)""".stripMargin)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .transform(localCheckpoint)
      val lens = u.groupBy("doc_id").agg(sum(col("c")).cast("long").as("n1"))
      def clip(rel: org.apache.spark.sql.DataFrame, key: String, out: String) = {
        val b = rel.select((col("doc_id") - 1).as("doc_id"),
          col(key).as("bk"), col("c").as("cb"))
        rel.withColumnRenamed(key, "bk")
          .join(b, Seq("doc_id", "bk"))
          .groupBy("doc_id")
          .agg(sum(least(col("c"), col("cb"))).cast("long").as(out))
      }
      val o1 = clip(u, "tok", "ov1")
      val o2 = clip(bg, "g", "ov2")
      val re = lens.select((col("doc_id") - 1).as("doc_id"),
        col("n1").as("rn1"))
      lens.join(re, Seq("doc_id"))
        .join(o1, Seq("doc_id"), "left")
        .join(o2, Seq("doc_id"), "left")
        .select(col("doc_id").as("cand_id"),
          (col("doc_id") + 1).as("ref_id"),
          coalesce(col("ov1"), lit(0L)).as("clip1"),
          coalesce(col("ov2"), lit(0L)).as("clip2"),
          round(when(coalesce(col("ov1"), lit(0L)) === 0 ||
              coalesce(col("ov2"), lit(0L)) === 0, 0.0)
            .otherwise(
              least(lit(1.0),
                exp(lit(1.0) - col("rn1").cast("double") / col("n1"))) *
                sqrt((col("ov1").cast("double") / col("n1")) *
                  (col("ov2").cast("double") / (col("n1") - 1)))), 6)
            .as("bleu2"))
        .orderBy("cand_id")
    },

    // ---- TextRank keyword extraction: weighted PageRank over the
    //      token co-occurrence graph (content tokens ≥ 4 chars, window
    //      of 2 positions, undirected edge weight = corpus co-occurrence
    //      count), 2 damped iterations in the exact fixed-point integer
    //      discipline of q_pagerank (contributions are `pr·w div Σw` —
    //      truncating division both engines compute identically), top-20
    //      keywords out. The graph is VOCAB-bounded: one positional
    //      explode, one doc-local position join (never cross-doc), then
    //      every iteration shuffles |E| = distinct co-occurring pairs.
    QueryDef.checked(
      "q_textrank",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), ct AS (
        |  SELECT doc_id, tok, pos FROM toks WHERE length(tok) >= 4
        |), cooc AS (
        |  SELECT a.tok AS u, b.tok AS v, count(*) AS w
        |  FROM ct a JOIN ct b
        |    ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2
        |   AND a.tok != b.tok
        |  GROUP BY a.tok, b.tok
        |), edges AS (
        |  SELECT u, v, w FROM cooc
        |  UNION ALL
        |  SELECT v, u, w FROM cooc
        |), ew AS (
        |  SELECT u, v, sum(w) AS w FROM edges GROUP BY u, v
        |), degw AS (
        |  SELECT u AS node, sum(w) AS sw FROM ew GROUP BY u
        |), r0 AS (
        |  SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM degw
        |), r1 AS (
        |  SELECT e.v AS node,
        |    CAST(150000000 + (sum(r0.pr * e.w // d.sw) * 17) // 20 AS BIGINT) AS pr
        |  FROM ew e JOIN r0 ON r0.node = e.u JOIN degw d ON d.node = e.u
        |  GROUP BY e.v
        |), r2 AS (
        |  SELECT e.v AS node,
        |    CAST(150000000 + (sum(r1.pr * e.w // d.sw) * 17) // 20 AS BIGINT) AS pr
        |  FROM ew e JOIN r1 ON r1.node = e.u JOIN degw d ON d.node = e.u
        |  GROUP BY e.v
        |)
        |SELECT node AS keyword, pr AS textrank_fp
        |FROM r2 ORDER BY pr DESC, keyword LIMIT 20""".stripMargin) { (spark, dir) =>
      val ct = Tables(spark, dir).documents
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos0", "tok")))
        // oracle subscripts are 1-based; only relative order matters,
        // but keep them identical anyway
        .select(col("doc_id"), col("tok"), (col("pos0") + 1).as("pos"))
        .filter(length(col("tok")) >= 4)
      val cooc = ct.as("a")
        .join(ct.as("b"),
          col("b.doc_id") === col("a.doc_id") &&
            col("b.pos") > col("a.pos") &&
            col("b.pos") <= col("a.pos") + 2 &&
            col("a.tok") =!= col("b.tok"))
        .groupBy(col("a.tok").as("u"), col("b.tok").as("v"))
        .agg(count(lit(1)).as("w"))
      val ew = cooc.select(col("u"), col("v"), col("w"))
        .unionAll(cooc.select(col("v").as("u"), col("u").as("v"), col("w")))
        .groupBy("u", "v").agg(sum(col("w")).as("w"))
        .transform(localCheckpoint) // the degree build and both rank iterations
      val degw = ew.groupBy(col("u").as("node")).agg(sum(col("w")).as("sw"))
      val edgesD = ew.join(degw.withColumnRenamed("node", "u"), Seq("u"))
      def iterate(prev: org.apache.spark.sql.DataFrame) = edgesD
        .join(prev.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), expr("pr * w div sw").as("contrib"))
        .groupBy("node")
        .agg(expr("CAST(150000000 + (sum(contrib) * 17) div 20 AS BIGINT)")
          .as("pr"))
      val r0 = degw.select(col("node"), lit(1000000000L).as("pr"))
      val r2 = iterate(iterate(r0))
      r2.select(col("node").as("keyword"), col("pr").as("textrank_fp"))
        .orderBy(col("textrank_fp").desc, col("keyword"))
        .limit(20)
    }
  )
}
