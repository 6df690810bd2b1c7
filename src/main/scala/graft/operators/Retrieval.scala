package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.functions.VectorFunctions

/** Retrieval-flavored corpus scoring (training-data pipeline surface):
  * BM25 ranking and DSIR-style importance weighting.
  *
  * Both are two-scan pipelines: one corpus scan builds a SMALL statistics
  * relation (per-term document frequencies / hashed-unigram bucket
  * counts — bounded by vocabulary or bucket count, not corpus size),
  * which then broadcasts into a second scoring scan. At 100 TB neither
  * stage shuffles the corpus: the stats groupBy reduces map-side to at
  * most |vocab| rows per partition, and scoring is a broadcast join.
  *
  * Float-sum determinism: per-token/per-term contributions are doubles,
  * but their per-doc SUM would depend on reduction order. Contributions
  * are scaled to 1e-9 fixed-point BIGINTs before the sum (integer
  * addition commutes), the same trick [[IvfIndex]] uses for centroids,
  * so the result is bit-identical on any partition count or engine.
  */
object Retrieval {

  /** BM25 query terms (the corpus is a 31-word soup; these four hit
    * most docs with varying tf, so scores spread). */
  private val terms = Seq("vector", "join", "scan", "filter")
  private val termsSql = terms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Shared BM25 chain ending in `bm25(doc_id, n_terms, s)` — s is the
    * 1e-9 fixed-point score sum. One CTE string + one DataFrame builder
    * shared by [[q_bm25]] and the hybrid-search fusion so the scoring
    * cannot drift between them. */
  private[operators] val duckBm25Ctes =
    s"""btoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), bdl AS (
       |  SELECT doc_id, count(*) AS dl FROM btoks GROUP BY doc_id
       |), bstats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM bdl
       |), btf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM btoks
       |  WHERE tok IN $termsSql GROUP BY doc_id, tok
       |), bdf AS (
       |  SELECT tok, count(*) AS df FROM btf GROUP BY tok
       |), bscored AS (
       |  SELECT t.doc_id,
       |    CAST(round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
       |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
       |      * 1000000000) AS BIGINT) AS sc
       |  FROM btf t JOIN bdf d USING (tok) JOIN bdl l ON l.doc_id = t.doc_id, bstats s
       |), bm25 AS (
       |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms,
       |    CAST(sum(sc) AS BIGINT) AS s
       |  FROM bscored GROUP BY doc_id
       |)""".stripMargin

  /** Spark twin of [[duckBm25Ctes]]: (doc_id, n_terms, s). */
  private[operators] def bm25Scored(docs: org.apache.spark.sql.DataFrame) = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
          |  * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |  * 1000000000) AS BIGINT)""".stripMargin).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"), sum(col("sc")).as("s"))
  }

  /** Shared DSIR chain ending in `dsir(doc_id, lang, n_tokens, lws)` —
    * lws is the 1e-9 fixed-point log-weight sum. One CTE string + one
    * DataFrame builder shared by [[q_dsir_weights]] and the resampling
    * capstone so the weighting cannot drift between them. */
  private[operators] val duckDsirCtes =
    """dbt AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 1024 AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) dt
      |), dsrc AS (
      |  SELECT b, count(*) AS cs FROM dbt GROUP BY b
      |), dtgt AS (
      |  SELECT b, count(*) AS ct FROM dbt WHERE lang = 'en' GROUP BY b
      |), dtots AS (
      |  SELECT CAST(sum(cs) AS DOUBLE) AS ns,
      |    CAST((SELECT sum(ct) FROM dtgt) AS DOUBLE) AS nt
      |  FROM dsrc
      |), dlr AS (
      |  SELECT s.b,
      |    CAST(round(ln(((coalesce(t.ct, 0) + 1) / (nt + 1024.0)) /
      |                  ((s.cs + 1) / (ns + 1024.0))) * 1000000000) AS BIGINT) AS lrs
      |  FROM dsrc s LEFT JOIN dtgt t ON t.b = s.b, dtots
      |), dsir AS (
      |  SELECT d.doc_id, d.lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(l.lrs) AS BIGINT) AS lws
      |  FROM dbt d JOIN dlr l ON l.b = d.b
      |  GROUP BY d.doc_id, d.lang
      |)""".stripMargin

  private[operators] def dsirScaled(docs: org.apache.spark.sql.DataFrame) = {
    // spread before the tokenize-explode + per-token md5 (Tables.spread
    // contract): the one-split doc scan would otherwise run the
    // helper's whole hash stage — re-evaluated by three consumers —
    // in a single task
    val bt = Tables.spread(docs)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (Dedup.md5h64(col("tok")) % 1024).as("b"))
    val src = bt.groupBy("b").agg(count(lit(1)).as("cs"))
    val tgt = bt.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val tots = src.agg(sum(col("cs")).cast("double").as("ns"))
      .crossJoin(tgt.agg(sum(col("ct")).cast("double").as("nt")))
    val lr = src.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"), expr(
        """CAST(round(ln(((coalesce(ct, 0) + 1) / (nt + 1024.0)) /
          |              ((cs + 1) / (ns + 1024.0))) * 1000000000) AS BIGINT)"""
          .stripMargin).as("lrs"))
    bt.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("lrs")).cast("long").as("lws"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- BM25 (k1=1.2, b=0.75) of a fixed 4-term query against every
    //      doc; top-50. idf = ln((N-df+0.5)/(df+0.5)+1) — the
    //      Robertson-Sparck-Jones form that stays positive.
    QueryDef.checked(
      "q_bm25",
      s"""WITH $duckBm25Ctes
         |SELECT doc_id, n_terms, round(s / 1000000000.0, 6) AS bm25
         |FROM bm25
         |ORDER BY s DESC, doc_id
         |LIMIT 50""".stripMargin) { (spark, dir) =>
      bm25Scored(Tables(spark, dir).documents)
        .orderBy(col("s").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_terms"),
          round(col("s") / lit(1000000000.0), 6).as("bm25"))
    },

    // ---- hybrid search: fuse the BM25 keyword score with the cosine
    //      similarity to a query vector (doc_id = vec_id) by weighted
    //      sum of normalized scores — the other standard retriever
    //      merge next to RRF (q_rrf_fusion ranks, this one keeps score
    //      magnitudes). BM25 normalizes by its max (an exact
    //      BIGINT-over-double division — zero-match docs coalesce to 0
    //      AFTER the division so they don't drag the scale); cosine
    //      min-max normalizes from 6-dp-rounded values. The query's own
    //      vector (vec_id 0) is excluded from the corpus — its
    //      self-cosine of 1.0 would both return the query as a "hit"
    //      and pin cmax, compressing every real doc's cos_norm. Both
    //      score relations are corpus scans; the norm constants are one-row
    //      broadcast aggregates, and the doc join is key-colocated at
    //      any scale. Ranking uses the unrounded fused score (identical
    //      IEEE from identical inputs), ties by doc_id.
    QueryDef.checked(
      "q_hybrid_search",
      s"""WITH $duckBm25Ctes,
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cs AS (
         |  SELECT e.vec_id AS doc_id,
         |    round(${VectorFunctions.duckCosineSql("qv.qe", "e.embedding")}, 6) AS cosim
         |  FROM embeddings e, qv WHERE e.vec_id <> 0
         |), bmax AS (SELECT CAST(max(s) AS DOUBLE) AS ms FROM bm25),
         |crange AS (SELECT min(cosim) AS cmin, max(cosim) AS cmax FROM cs),
         |h AS (
         |  SELECT c.doc_id,
         |    coalesce(b.s / bmax.ms, 0) AS bm_norm,
         |    (c.cosim - crange.cmin) / (crange.cmax - crange.cmin) AS cos_norm
         |  FROM cs c LEFT JOIN bm25 b ON b.doc_id = c.doc_id, bmax, crange
         |)
         |SELECT doc_id, round(bm_norm, 6) AS bm_norm, round(cos_norm, 6) AS cos_norm,
         |  round(0.5 * bm_norm + 0.5 * cos_norm, 6) AS hybrid
         |FROM h
         |ORDER BY 0.5 * bm_norm + 0.5 * cos_norm DESC, doc_id
         |LIMIT 20""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      // both score relations feed a norm-constant aggregate AND the
      // fusion join — materialize each once
      val bm = bm25Scored(t.documents).transform(localCheckpoint)
      val qv = t.embeddings.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val cs = t.embeddings.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(VectorFunctions.cosineSim(col("qe"), col("embedding")), 6)
            .as("cosim"))
        .transform(localCheckpoint)
      val bmax = bm.agg(max(col("s")).cast("double").as("ms"))
      val crange = cs.agg(min(col("cosim")).as("cmin"), max(col("cosim")).as("cmax"))
      cs.join(bm.select(col("doc_id"), col("s")), Seq("doc_id"), "left")
        .crossJoin(broadcast(bmax))
        .crossJoin(broadcast(crange))
        .select(col("doc_id"),
          coalesce(col("s") / col("ms"), lit(0d)).as("bm_norm"),
          ((col("cosim") - col("cmin")) / (col("cmax") - col("cmin")))
            .as("cos_norm"))
        .withColumn("hybrid_raw", lit(0.5) * col("bm_norm") + lit(0.5) * col("cos_norm"))
        .orderBy(col("hybrid_raw").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), round(col("bm_norm"), 6).as("bm_norm"),
          round(col("cos_norm"), 6).as("cos_norm"),
          round(col("hybrid_raw"), 6).as("hybrid"))
    },

    // ---- DSIR-style importance weights: hashed-unigram (1024 buckets)
    //      log-likelihood ratio of the target distribution (lang='en')
    //      vs the raw corpus, add-1 smoothed; per-doc log-weight = sum
    //      of its tokens' bucket ratios. High weight ≈ target-like text;
    //      the resampling step then samples ∝ exp(weight).
    QueryDef.checked(
      "q_dsir_weights",
      s"""WITH $duckDsirCtes
         |SELECT doc_id, lang, n_tokens,
         |  round(lws / 1000000000.0, 6) AS log_weight
         |FROM dsir
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      dsirScaled(Tables(spark, dir).documents)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("lws") / lit(1000000000.0), 6).as("log_weight"))
        .orderBy("doc_id")
    },

    // ---- reciprocal-rank fusion: combine two retrieval rankings
    //      (single-term tf rankers for 'vector' and 'scan') with
    //      RRF(d) = Σ 1/(60+rank_i(d)). Integer division at 1e6 scale
    //      (1000000 div (60+r)) keeps the fused score exact in both
    //      engines — no float sum across rankers. At 100 TB each input
    //      ranking is a per-query top-k candidate list (k ≤ 1000, the
    //      retriever bounds it), so the rank window and the full-outer
    //      fusion join run over k rows per query, not the corpus; with
    //      many queries the window partitions by query id.
    QueryDef.checked(
      "q_rrf_fusion",
      """WITH ta AS (
        |  SELECT doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok = 'vector' GROUP BY doc_id
        |), tb AS (
        |  SELECT doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok = 'scan' GROUP BY doc_id
        |), ra AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS INTEGER) AS rank_a
        |  FROM ta
        |), rb AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS INTEGER) AS rank_b
        |  FROM tb
        |)
        |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, rank_a, rank_b,
        |  CAST(coalesce(1000000 // (60 + rank_a), 0)
        |     + coalesce(1000000 // (60 + rank_b), 0) AS BIGINT) AS rrf_micro
        |FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id
        |ORDER BY rrf_micro DESC, doc_id
        |LIMIT 50""".stripMargin) { (spark, dir) =>
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      // per-term posting lists are corpus-fraction-sized: rank them via
      // the RangeRank shard-local pattern, not a single-partition window
      def ranked(term: String, rankCol: String) =
        graft.util.RangeRank.withGlobalRank(
            toks.filter(col("tok") === term)
              .groupBy("doc_id").agg(count(lit(1)).as("tf")),
            rankCol,
            toks.sparkSession.sessionState.conf.numShufflePartitions,
            col("tf").desc, col("doc_id"))
          .select("doc_id", rankCol)
      ranked("vector", "rank_a")
        .join(ranked("scan", "rank_b"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rank_a"), col("rank_b"),
          (coalesce(expr("1000000 div (60 + rank_a)"), lit(0)) +
            coalesce(expr("1000000 div (60 + rank_b)"), lit(0))).cast("long")
            .as("rrf_micro"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
        .limit(50)
    },

    // ---- resampling capstone: the target-mix selection pass as ONE
    //      query — per-domain cap ∩ perplexity-bucket keep ∩
    //      above-average DSIR weight — composed from the same
    //      individually verified fragments. The DSIR cut is RELATIVE
    //      (lws·N > ΣL, i.e. more target-like than the corpus mean,
    //      exact in integer arithmetic): absolute log-weights are
    //      uncalibrated — here every doc scores negative because the
    //      languages share one vocabulary, and in a real crawl the
    //      smoothing constant shifts all weights — so selection must
    //      rank, not threshold. The three predicates are independent
    //      (set intersection), so a 100 TB run executes them as one
    //      fused corpus pass: the cap and bucket keep-sets arrive as
    //      semi joins on doc_id (NOT broadcast — keep-sets are
    //      corpus-sized, unlike the capstone's bounded drop-sets) and
    //      the DSIR weight rides the same per-doc row. (lws·N stays in
    //      long range up to ~10⁹ docs; past that, compare lws to the
    //      integer-divided mean instead.)
    QueryDef.checked(
      "q_resample_pipeline",
      s"""WITH ${Training.duckNllCtes}
         |, ${Training.duckPplKeepCtes}
         |, $duckDsirCtes
         |, ${Sampling.duckCapRankCtes}
         |, cap_keep AS (
         |  SELECT doc_id FROM ranked_cap WHERE rn <= ${Sampling.domainCap}
         |), wstats AS (
         |  SELECT CAST(sum(lws) AS BIGINT) AS total_lws,
         |    count(*) AS n_total
         |  FROM dsir
         |)
         |SELECT s.lang, count(*) AS n_docs,
         |  CAST(sum(s.n_tokens) AS BIGINT) AS total_tokens
         |FROM dsir s
         |JOIN cap_keep c ON c.doc_id = s.doc_id
         |JOIN ppl_keep p ON p.doc_id = s.doc_id AND p.keep
         |CROSS JOIN wstats w
         |WHERE s.lws * w.n_total > w.total_lws
         |GROUP BY s.lang
         |ORDER BY s.lang""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val keptByPpl = Training.pplKeep(docs).filter(col("keep")).select("doc_id")
      val capKeep = Sampling.capRanked(docs)
        .filter(col("rn") <= Sampling.domainCap)
        .select("doc_id")
      // the weights relation feeds both the mean and the filter —
      // materialize once (its two consumers plan as independent stages)
      val weights = dsirScaled(docs).transform(localCheckpoint)
      val wstats = weights.agg(sum(col("lws")).cast("long").as("total_lws"),
        count(lit(1)).as("n_total"))
      weights
        .crossJoin(broadcast(wstats))
        .filter(col("lws") * col("n_total") > col("total_lws"))
        .join(capKeep, Seq("doc_id"), "left_semi")
        .join(keptByPpl, Seq("doc_id"), "left_semi")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy("lang")
    },

    // ---- late-interaction retrieval (ColBERT MaxSim): passages are
    //      multi-vector (4 consecutive vec_ids form one passage), and
    //      score(q, d) = Σ over query vectors of max over doc vectors
    //      of cosine. The sum-of-max runs on 1e-6 fixed-point longs
    //      (max commutes on rounded values, integer sum commutes), so
    //      the score is partition-invariant. Physical shape: the tiny
    //      query-vector set broadcasts, similarity computes corpus-side
    //      in the codegen'd expression, the per-(query, passage, qvec)
    //      max and per-(query, passage) sum are ONE keyed aggregate
    //      chain, and top-5 is a window rank on the query key.
    QueryDef.checked(
      "q_colbert_maxsim",
      s"""WITH q AS (
         |  SELECT vec_id // 4 AS qid, vec_id AS qvec, embedding AS qe
         |  FROM embeddings WHERE vec_id < 8
         |), d AS (
         |  SELECT vec_id // 4 AS did, embedding FROM embeddings
         |  WHERE vec_id >= 8
         |), mx AS (
         |  SELECT q.qid, d.did, q.qvec,
         |    max(CAST(round(
         |      ${VectorFunctions.duckCosineSql("q.qe", "d.embedding")}
         |      * 1000000) AS BIGINT)) AS m_fp
         |  FROM q, d
         |  GROUP BY q.qid, d.did, q.qvec
         |), sc AS (
         |  SELECT qid, did, sum(m_fp) AS s_fp FROM mx GROUP BY qid, did
         |), rk AS (
         |  SELECT qid, did, s_fp,
         |    row_number() OVER (PARTITION BY qid ORDER BY s_fp DESC, did) AS rn
         |  FROM sc
         |)
         |SELECT qid, CAST(rn AS INTEGER) AS rank, did,
         |  round(s_fp / 1000000.0, 6) AS maxsim
         |FROM rk WHERE rn <= 5
         |ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables(spark, dir).embeddings
      val q = emb.filter(col("vec_id") < 8)
        .select(expr("vec_id div 4").as("qid"), col("vec_id").as("qvec"),
          col("embedding").as("qe"))
      val d = emb.filter(col("vec_id") >= 8)
        .select(expr("vec_id div 4").as("did"), col("embedding"))
      val sc = d.crossJoin(broadcast(q))
        .select(col("qid"), col("did"), col("qvec"),
          round(VectorFunctions.cosineSim(col("qe"), col("embedding"))
            * 1000000).cast("long").as("c_fp"))
        .groupBy("qid", "did", "qvec")
        .agg(max(col("c_fp")).as("m_fp"))
        .groupBy("qid", "did")
        .agg(sum(col("m_fp")).as("s_fp"))
      sc.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("s_fp").desc, col("did"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn").cast("int").as("rank"), col("did"),
          round(col("s_fp") / lit(1000000.0), 6).as("maxsim"))
        .orderBy("qid", "rank")
    },

    // ---- pseudo-relevance feedback (the RM3 expansion step): take the
    //      BM25 top-10 for the standing query, weight every candidate
    //      term by Σ_d tf(t,d)·score(d)/dl(d) over those docs — the
    //      relevance-model estimate P(t|R) — and emit the 10 strongest
    //      expansion terms. Reuses the EXACT shared BM25 chain
    //      ([[duckBm25Ctes]]/[[bm25Scored]]), so expansion can never
    //      rank against different scores than retrieval served; per-doc
    //      contributions are integer `tf·s div dl` (score s is already
    //      1e-9 fixed point), making the term ranking partition- and
    //      engine-proof. Scale: the feedback set is 10 docs — the
    //      expansion pass touches ONLY their tokens via a broadcast
    //      semi-join, not the corpus.
    QueryDef.checked(
      "q_prf_expansion",
      s"""WITH $duckBm25Ctes,
         |top10 AS (
         |  SELECT doc_id, s FROM bm25 ORDER BY s DESC, doc_id LIMIT 10
         |), exp_tf AS (
         |  SELECT t.doc_id, t.tok, count(*) AS tf
         |  FROM btoks t JOIN top10 x ON x.doc_id = t.doc_id
         |  WHERE length(t.tok) >= 4
         |    AND t.tok NOT IN $termsSql
         |  GROUP BY t.doc_id, t.tok
         |), wgt AS (
         |  SELECT e.tok, CAST(sum(e.tf * x.s // l.dl) AS BIGINT) AS w_fp,
         |    CAST(count(*) AS BIGINT) AS n_docs_with
         |  FROM exp_tf e JOIN top10 x ON x.doc_id = e.doc_id
         |  JOIN bdl l ON l.doc_id = e.doc_id
         |  GROUP BY e.tok
         |)
         |SELECT tok AS expansion_term, w_fp, n_docs_with
         |FROM wgt ORDER BY w_fp DESC, tok LIMIT 10""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents.transform(localCheckpoint)
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val top10 = bm25Scored(docs)
        .orderBy(col("s").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("s"))
      val expTf = toks
        .join(broadcast(top10), Seq("doc_id"))
        .filter(length(col("tok")) >= 4 && !col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"),
          max(col("s")).as("s"))
      expTf
        .join(broadcast(dl.join(broadcast(top10), Seq("doc_id"))
          .select(col("doc_id"), col("dl"))), Seq("doc_id"))
        .select(col("tok"), expr("tf * s div dl").as("c"))
        .groupBy("tok")
        .agg(sum(col("c")).cast("long").as("w_fp"),
          count(lit(1)).cast("long").as("n_docs_with"))
        .select(col("tok").as("expansion_term"), col("w_fp"), col("n_docs_with"))
        .orderBy(col("w_fp").desc, col("expansion_term"))
        .limit(10)
    }
  )
}
