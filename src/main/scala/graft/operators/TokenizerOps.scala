package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Tokenizer-training and pipeline-evaluation operators: the first BPE
  * merge round (character-pair frequencies — what a tokenizer trainer
  * computes over the corpus before anything else), a precision/recall
  * evaluation of the MinHash-LSH dedup candidates against exact
  * Jaccard ground truth (the measurement that justifies the sketch),
  * and per-source KL divergence against the corpus unigram
  * distribution (the DoReMi-style domain-distinctiveness signal that
  * feeds mixture weighting).
  *
  * Scale stance (100 TB):
  *   - [[q_bpe_pairs]] is explode → hash-aggregate on the pair string:
  *     pair cardinality is alphabet², so the shuffle is constant-size;
  *     the explosion is linear in corpus characters and partition-
  *     parallel. Real BPE iterates this with the previous merges
  *     applied — each round is this same one-pass shape.
  *   - [[q_lsh_eval]] computes ground truth only over pairs sharing a
  *     hashed shingle (an inverted-index self-join on the shingle hash
  *     — the only pairs with nonzero Jaccard), never all-pairs. The
  *     shared-shingle join is the classic Σdf² blowup; at the target a
  *     df cap drops stop-shingles first (mirrored into the oracle if
  *     applied — here the synthetic corpus needs no cap).
  *   - [[q_source_kl]] reuses the unigram-profile shape: per-source
  *     term frequencies (one shuffle on (source, tok)), corpus
  *     frequencies (vocab-sized, broadcast back), KL terms accumulated
  *     in fixed-point so the sum is partition-invariant.
  */
object TokenizerOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- first BPE merge round: top-20 within-word character pairs.
    QueryDef.checked(
      "q_bpe_pairs",
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |), cpairs AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> substring(w, CAST(i AS INT), 2))) AS pair
        |  FROM words WHERE len(w) >= 2
        |), counted AS (
        |  SELECT pair, count(*) AS n FROM cpairs GROUP BY pair
        |)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT)
        |    AS rank,
        |  pair, n
        |FROM counted
        |ORDER BY n DESC, pair
        |LIMIT 20""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .withColumn("rank",
          // global rank over |distinct char bigrams|: measured 82 rows @
          // sf0.01 AND sf0.1 (PlanProbe r7) — alphabet²-bounded
          row_number().over(Window.orderBy(col("n").desc, col("pair")))
            .cast("long"))
        .select("rank", "pair", "n")
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // ---- LSH candidate quality: precision/recall of the banded
    //      MinHash pairs against exact Jaccard >= 0.5 ground truth
    //      computed over shingle-sharing pairs (inverted index join —
    //      exact for every pair with nonzero overlap).
    QueryDef.checked(
      "q_lsh_eval",
      s"""WITH ${Dedup.duckPairsCtes},
        |sz AS (
        |  SELECT doc_id, count(*) AS n FROM hg GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM hg a JOIN hg b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), truth AS (
        |  SELECT i.doc_a, i.doc_b
        |  FROM inter i
        |  JOIN sz sa ON sa.doc_id = i.doc_a
        |  JOIN sz sb ON sb.doc_id = i.doc_b
        |  WHERE i.n_inter * 2 >= sa.n + sb.n - i.n_inter
        |), m AS (
        |  SELECT
        |    (SELECT count(*) FROM truth) AS n_truth,
        |    (SELECT count(*) FROM pairs) AS n_candidates,
        |    (SELECT count(*) FROM pairs p JOIN truth t
        |       ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b) AS n_tp
        |)
        |SELECT CAST(n_truth AS BIGINT) AS n_truth,
        |  CAST(n_candidates AS BIGINT) AS n_candidates,
        |  CAST(n_tp AS BIGINT) AS n_tp,
        |  CASE WHEN n_candidates = 0 THEN NULL
        |    ELSE round(n_tp * 1.0 / n_candidates, 6) END AS precision,
        |  CASE WHEN n_truth = 0 THEN NULL
        |    ELSE round(n_tp * 1.0 / n_truth, 6) END AS recall
        |FROM m""".stripMargin) { (spark, dir) =>
      val hg = Dedup.hashedGrams(Tables(spark, dir).documents)
        .transform(localCheckpoint) // feeds the LSH pipeline, sizes, and the truth join
      val cand = Dedup.minhashPairsFromHg(hg)
        .select("doc_a", "doc_b").transform(localCheckpoint)
      val sz = hg.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // spreadBy pins the truth self-join's exchange at full width:
      // the per-h pair expansion is the query's heavy stage, and AQE's
      // byte-based coalescing would run it 1-2-way off the kilobyte
      // hash relation (the join keys on h, so this IS the join's
      // exchange, not an extra one)
      val inter = graft.Tables.spreadBy(hg.toDF("doc_a", "h"), col("h"))
        .join(graft.Tables.spreadBy(hg.toDF("doc_b", "h2"), col("h2")),
          col("h") === col("h2") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      val truth = inter
        .join(broadcast(sz.toDF("doc_a", "n_a")), Seq("doc_a"))
        .join(broadcast(sz.toDF("doc_b", "n_b")), Seq("doc_b"))
        .filter(col("n_inter") * 2 >= col("n_a") + col("n_b") - col("n_inter"))
        .select("doc_a", "doc_b").transform(localCheckpoint)
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val nTp = cand.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_tp"))
      nTruth.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTp))
        .select(col("n_truth").cast("long").as("n_truth"),
          col("n_candidates").cast("long").as("n_candidates"),
          col("n_tp").cast("long").as("n_tp"),
          when(col("n_candidates") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_tp") * lit(1.0) / col("n_candidates"), 6))
            .as("precision"),
          when(col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_tp") * lit(1.0) / col("n_truth"), 6))
            .as("recall"))
    },

    // ---- per-source KL divergence vs the corpus unigram distribution:
    //      KL(P_src ‖ P_corpus) = Σ p_s·ln(p_s/p_c), terms accumulated
    //      in 1e-9 fixed-point (the duckNllCtes discipline).
    QueryDef.checked(
      "q_source_kl",
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |), srctok AS (
        |  SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok
        |), srctot AS (
        |  SELECT source, sum(c) AS t FROM srctok GROUP BY source
        |), corptok AS (
        |  SELECT tok, sum(c) AS cc FROM srctok GROUP BY tok
        |), corptot AS (
        |  SELECT sum(cc) AS tc FROM corptok
        |), terms AS (
        |  SELECT s.source,
        |    CAST(round((s.c / st.t) * ln((s.c * ct.tc) / (st.t * c.cc))
        |      * 1000000000) AS BIGINT) AS term_fp
        |  FROM srctok s
        |  JOIN srctot st ON st.source = s.source
        |  JOIN corptok c ON c.tok = s.tok
        |  CROSS JOIN corptot ct
        |)
        |SELECT source, count(*) AS vocab,
        |  round(sum(term_fp) / 1000000000.0, 6) AS kl_nats
        |FROM terms GROUP BY source
        |ORDER BY source""".stripMargin) { (spark, dir) =>
      val srctok = Tables(spark, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .transform(localCheckpoint) // feeds per-source totals, corpus totals, terms
      val srctot = srctok.groupBy("source").agg(sum(col("c")).as("t"))
      val corptok = srctok.groupBy("tok").agg(sum(col("c")).as("cc"))
      val corptot = corptok.agg(sum(col("cc")).as("tc"))
      srctok
        .join(broadcast(srctot), Seq("source"))
        .join(broadcast(corptok), Seq("tok"))
        .crossJoin(broadcast(corptot))
        .select(col("source"),
          expr("""CAST(round((c / t) * ln((c * tc) / (t * cc))
                 |  * 1000000000) AS BIGINT)""".stripMargin).as("term_fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          round(sum(col("term_fp")) / lit(1000000000.0), 6).as("kl_nats"))
        .orderBy("source")
    },

    // ---- three BPE merge rounds: the iterative trainer itself. Each
    //      round is ONE distributed pair-count pass over the current
    //      symbolization; only the winning pair (a scalar) comes back
    //      to the driver, and the merge is re-applied lazily as a
    //      string rewrite — the exact loop shape a 50k-merge trainer
    //      runs, with periodic checkpoints replacing the replace-chain
    //      lineage at production merge counts.
    QueryDef.checked(
      "q_bpe_train",
      """WITH w0 AS (
        |  SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1
        |),
        |a1 AS (SELECT string_split(trim(s), ' ') AS a FROM w0),
        |p1 AS (
        |  SELECT p.l AS l, p.r AS r, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(a)),
        |      i -> {'l': a[i], 'r': a[i+1]})) AS p FROM a1)
        |  GROUP BY 1, 2
        |),
        |t1 AS (SELECT l, r, n FROM p1 ORDER BY n DESC, l, r LIMIT 1),
        |w1 AS (SELECT replace(s, ' ' || t1.l || ' ' || t1.r || ' ',
        |  ' ' || t1.l || t1.r || ' ') AS s FROM w0, t1),
        |a2 AS (SELECT string_split(trim(s), ' ') AS a FROM w1),
        |p2 AS (
        |  SELECT p.l AS l, p.r AS r, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(a)),
        |      i -> {'l': a[i], 'r': a[i+1]})) AS p FROM a2)
        |  GROUP BY 1, 2
        |),
        |t2 AS (SELECT l, r, n FROM p2 ORDER BY n DESC, l, r LIMIT 1),
        |w2 AS (SELECT replace(s, ' ' || t2.l || ' ' || t2.r || ' ',
        |  ' ' || t2.l || t2.r || ' ') AS s FROM w1, t2),
        |a3 AS (SELECT string_split(trim(s), ' ') AS a FROM w2),
        |p3 AS (
        |  SELECT p.l AS l, p.r AS r, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(a)),
        |      i -> {'l': a[i], 'r': a[i+1]})) AS p FROM a3)
        |  GROUP BY 1, 2
        |),
        |t3 AS (SELECT l, r, n FROM p3 ORDER BY n DESC, l, r LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, l, r, l||r AS merged, n FROM t1
        |  UNION ALL SELECT 2, l, r, l||r, n FROM t2
        |  UNION ALL SELECT 3, l, r, l||r, n FROM t3
        |) ORDER BY round""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // spread the scan first: the per-round pair explosion is compute-
      // bound on kilobyte-scale input, exactly the case AQE's byte-based
      // sizing pins to one task (SCALING.md "compute-bound stages")
      val words = graft.Tables.spread(Tables(spark, dir).documents,
          col("doc_id"))
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      // " h e l l o " — space-separated symbols with sentinel spaces so
      // a merge is a plain substring rewrite (greedy left-to-right,
      // non-overlapping: exactly BPE's application order).
      // localCheckpoint pins each round's symbolization: round k's pair
      // count must not replay rounds 1..k-1's rewrites (the trainer's
      // periodic-checkpoint discipline, here every round)
      var syms = words.select(
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"))
        .transform(localCheckpoint)
      val merges = Seq.newBuilder[(Long, String, String, String, Long)]
      for (round <- 1 to 3) {
        val top = syms
          .select(split(trim(col("s")), " ").as("a"))
          .filter(size(col("a")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(a) - 2)," +
              " i -> struct(a[i] AS l, a[i + 1] AS r))")).as("p"))
          .select(col("p.l").as("l"), col("p.r").as("r"))
          .groupBy("l", "r").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1)
          .collect()(0)
        val (l, r, n) = (top.getString(0), top.getString(1), top.getLong(2))
        merges += ((round.toLong, l, r, l + r, n))
        // symbols are [a-z] by construction, safe to inline in the expr;
        // the last round's winner needs no re-application
        if (round < 3)
          syms = syms.select(expr(s"replace(s, ' $l $r ', ' $l$r ')").as("s"))
            .transform(localCheckpoint)
      }
      merges.result().toDF("round", "l", "r", "merged", "n")
    },

    // ---- vocabulary coverage curve: tokens ranked by corpus frequency
    //      with cumulative coverage — the "how big a vocab covers X% of
    //      the stream" table that sizes a tokenizer's vocab budget.
    //      The curve relation is VOCAB-sized (sublinear in the corpus),
    //      so the global window sort is over the small aggregate, never
    //      the token stream; ties break on the token string so every
    //      engine derives the identical ranking.
    QueryDef.checked(
      "q_vocab_coverage_curve",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), freq AS (
        |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS t FROM freq
        |), ranked AS (
        |  SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rnk,
        |    sum(c) OVER (ORDER BY c DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM freq
        |)
        |SELECT CAST(rnk AS INT) AS rank, tok, CAST(c AS BIGINT) AS freq,
        |  round(cum * 1.0 / t, 6) AS cum_coverage,
        |  cum * 2 >= t AS covers_half,
        |  cum * 10 >= t * 9 AS covers_90
        |FROM ranked CROSS JOIN tot
        |ORDER BY rank""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val freq = Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).cast("long").as("t"))
      // vocabulary-ranked prefix scan: only 31 rows here (fixed synthetic
      // vocab, PlanProbe r7), but a natural-language corpus grows its
      // vocabulary by Heaps' law, so the rank AND the coverage cumsum ride
      // ONE RangeRank range-exchange pass (rank = running sum of ones over
      // the unique (c desc, tok) order) instead of a global window
      val ranked = graft.util.RangeRank.withGlobalCumSums(
        freq.withColumn("__one", lit(1L)),
        Seq("__one" -> "rnk", "c" -> "cum"),
        spark.sessionState.conf.numShufflePartitions,
        col("c").desc, col("tok"))
      ranked
        .select(col("tok"), col("c"), col("rnk"), col("cum"))
        .crossJoin(broadcast(tot))
        .select(col("rnk").cast("int").as("rank"), col("tok"),
          col("c").cast("long").as("freq"),
          round(col("cum") * lit(1.0) / col("t"), 6).as("cum_coverage"),
          (col("cum") * 2 >= col("t")).as("covers_half"),
          (col("cum") * 10 >= col("t") * 9).as("covers_90"))
        .orderBy("rank")
    },

    // ---- negative-sampling table (word2vec recipe): unigram counts
    //      raised to the 3/4 power, normalized, with cumulative ranges —
    //      the lookup table a skip-gram trainer samples negatives from.
    //      c^0.75 computes as sqrt(sqrt(c³)): both sqrts are IEEE-
    //      correctly-rounded in every engine (pow(x, 0.75) is NOT), and
    //      the cube of any corpus-scale count is exact in double, so the
    //      weights are bit-identical before the fixed-point edge. The
    //      table is vocab-sized; the only corpus-sized pass is the count.
    QueryDef.checked(
      "q_negative_sampling",
      """WITH freq AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok
        |), w AS (
        |  SELECT tok, c,
        |    CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000)
        |      AS BIGINT) AS w_fp
        |  FROM freq
        |), cum AS (
        |  SELECT tok, c, w_fp,
        |    sum(w_fp) OVER (ORDER BY c DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hi,
        |    CAST((SELECT sum(w_fp) FROM w) AS BIGINT) AS tot
        |  FROM w
        |)
        |SELECT row_number() OVER (ORDER BY c DESC, tok) AS rank,
        |  tok, CAST(c AS BIGINT) AS freq,
        |  CAST(cum_hi - w_fp AS BIGINT) AS cum_lo,
        |  CAST(cum_hi AS BIGINT) AS cum_hi,
        |  round(w_fp * 1.0 / tot, 6) AS prob
        |FROM cum
        |ORDER BY rank""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val freq = Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val w = freq.select(col("tok"), col("c"),
        expr("cast(round(sqrt(sqrt(cast(c as double) * c * c)) * 1000000) as bigint)")
          .as("w_fp"))
      val tot = w.agg(sum(col("w_fp")).cast("long").as("tot"))
      // vocabulary-ranked prefix scan — same RangeRank shape as
      // q_vocab_coverage_curve (31 rows on this fixed synthetic vocab,
      // Heaps-law-sized on a natural corpus): rank and the sampling-range
      // cumsum share ONE range exchange; cum_lo derives from cum_hi
      val ranked = graft.util.RangeRank.withGlobalCumSums(
        w.withColumn("__one", lit(1L)),
        Seq("__one" -> "rank", "w_fp" -> "cum_hi"),
        spark.sessionState.conf.numShufflePartitions,
        col("c").desc, col("tok"))
      ranked.crossJoin(broadcast(tot))
        .select(
          col("rank").cast("long").as("rank"),
          col("tok"), col("c").cast("long").as("freq"),
          (col("cum_hi") - col("w_fp")).cast("long").as("cum_lo"),
          col("cum_hi").cast("long").as("cum_hi"),
          round(col("w_fp") * lit(1.0) / col("tot"), 6).as("prob"))
        .orderBy("rank")
    }
  )
}
