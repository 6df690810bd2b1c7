package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.functions.VectorFunctions

/** Embedding-side curation operators (north star, SURVEY.md §2B):
  * int8 scalar quantization and SemDeDup-style cluster-scoped semantic
  * deduplication.
  *
  * Quantization is a stateless per-row map (no shuffle — at 100 TB it
  * runs inside the scan's codegen stage). SemDeDup bounds the quadratic
  * pair generation the same way IVF bounds search: vectors are first
  * assigned to their nearest centroid (broadcast centroid table, one
  * scan), and the pairwise cosine check runs only WITHIN a cell — the
  * self-join shuffles on the cell id, and cell population, not corpus
  * size, bounds each task's pair count. Skewed cells would be split by
  * salting the join key, exactly like any skewed equi-join.
  */
object VectorCuration {

  import org.apache.spark.sql.DataFrame

  /** SQL twin of [[pqCodewords]]+[[pqAssigned]] — CTE chain `cw` →
    * `dists` → `assigned(vec_id, label, block, code, dist)` on top of
    * [[IvfIndex.duckSvCcCtes]]. ONE definition shared by q_pq_encode
    * and q_pq_adc so codebook and code assignment cannot drift between
    * the encoder and the searcher. */
  private val duckPqCtes =
    """cw AS (
      |  SELECT label AS code, pos // 8 AS block, list(c ORDER BY pos) AS codeword
      |  FROM cc GROUP BY label, pos // 8
      |), dists AS (
      |  SELECT e.vec_id, e.label, w.block, w.code,
      |    list_reduce(list_transform(e.embedding[w.block * 8 + 1 : w.block * 8 + 8],
      |      (x, i) -> (CAST(x AS DOUBLE) - w.codeword[i]) * (CAST(x AS DOUBLE) - w.codeword[i])),
      |      (p, q) -> p + q) AS dist
      |  FROM embeddings e, cw w
      |), assigned AS (
      |  SELECT vec_id, label, block, code, dist FROM (
      |    SELECT vec_id, label, block, code, dist,
      |      row_number() OVER (PARTITION BY vec_id, block ORDER BY dist, code) AS rn
      |    FROM dists) r
      |  WHERE rn = 1
      |)""".stripMargin

  /** PQ codebook: per (code, block) fixed-point centroid of the 8-dim
    * subvector — 80 rows, broadcast into the encode scan. */
  private def pqCodewords(emb: DataFrame): DataFrame =
    // spread before the ×256 posexplode: the codebook subtree builds as
    // its own (broadcast) job, and with a one-split scan its explode +
    // partial aggregate ran in a single task on the critical path
    Tables.spread(emb)
      .select(col("label").as("code"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("s", expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
      .groupBy("code", "pos")
      .agg((sum(col("s")).cast("double") /
        (lit(1000000.0) * count(lit(1)))).as("c"))
      .groupBy(col("code"), expr("pos div 8").as("block"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("code"), col("block"),
        expr("transform(pc, s -> s.c)").as("codeword"))

  /** Per-(vec_id, block) nearest codeword: `(vec_id, label, block,
    * code, dist)` — the encode scan both PQ queries share. */
  private def pqAssigned(emb: DataFrame, cw: DataFrame): DataFrame =
    Tables.spreadBy(
      // spread: the one-split embeddings scan otherwise runs the ×80
      // codeword expansion + 8-dim distance kernel in a single task
      // (split-count-gated — a no-op at production split counts)
      Tables.spread(emb).crossJoin(broadcast(cw))
        .select(col("vec_id"), col("label"), col("block"), col("code"), expr(
          """aggregate(zip_with(slice(embedding, CAST(block * 8 + 1 AS INT), 8),
            |  codeword, (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
            |  0D, (p, q) -> p + q)""".stripMargin).as("dist")),
      // spreadBy on vec_id IS the window's exchange pinned at full
      // width (hash on a subset of the partition keys, so the window,
      // the rn=1 filter, and the downstream per-vec_id aggregates of
      // BOTH pq queries all run on it with no further exchange)
      col("vec_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "block").orderBy(col("dist"), col("code"))))
      .filter(col("rn") === 1)
      .drop("rn")

  /** Shared truncation-ranking chain ending in `rk(q_id, vec_id,
    * rn_full, rn_trunc)`: queries = vec_ids 0..9 against the rest of
    * the corpus, ranked by full-dim and by 16-dim-prefix cosine. One
    * CTE string + one DataFrame builder shared by the matryoshka recall
    * gate and the retrieval-eval metrics so the two gates can never
    * rank differently. */
  private val duckTruncRankCtes =
    s"""q AS (
       |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10
       |), sims AS (
       |  SELECT q.q_id, b.vec_id,
       |    round(${VectorFunctions.duckCosineSql("q.qe", "b.embedding")}, 6) AS sim_full,
       |    round(${VectorFunctions.duckCosineSql("q.qe[1:16]", "b.embedding[1:16]")}, 6) AS sim_trunc
       |  FROM q, embeddings b WHERE b.vec_id >= 10
       |), rk AS (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim_full DESC, vec_id) AS rn_full,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim_trunc DESC, vec_id) AS rn_trunc
       |  FROM sims
       |)""".stripMargin

  /** 1e-9 fixed-point log2 position discounts for ranks 1..10 and the
    * matching ideal-DCG normalizer — Scala-computed once and injected
    * into BOTH engines as integer literals, so no runtime ln() enters
    * the DCG sum. */
  private val discountMicro: IndexedSeq[Long] =
    (1 to 10).map(i => math.round(1e9 / (math.log(i + 1.0) / math.log(2.0))))
  private val idcgScaled: Long =
    (1 to 10).map(i => (11L - i) * discountMicro(i - 1)).sum
  private val discountCaseSql: String =
    (1 to 10).map(i => s"WHEN $i THEN CAST(${discountMicro(i - 1)} AS BIGINT)")
      .mkString(" ")

  /** Spark twin of [[duckTruncRankCtes]]. */
  private def truncRanked(emb: org.apache.spark.sql.DataFrame) = {
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    emb.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("qe"), col("embedding")), 6)
          .as("sim_full"),
        round(VectorFunctions.cosineSim(
          expr("slice(qe, 1, 16)"), expr("slice(embedding, 1, 16)")), 6)
          .as("sim_trunc"))
      .withColumn("rn_full", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim_full").desc, col("vec_id"))))
      .withColumn("rn_trunc", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim_trunc").desc, col("vec_id"))))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- int8 symmetric quantization roundtrip: per-vector scale =
    //      max|x|/127, q_i = round(x_i/scale), report reconstruction
    //      error (max abs + MSE). The error stats are the acceptance
    //      gate a pipeline checks before swapping the fp32 index out.
    QueryDef.checked(
      "q_embedding_quantize",
      """WITH qz AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings
        |), err AS (
        |  SELECT vec_id, label, scale,
        |    list_transform(embedding, x ->
        |      abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale)) AS errs
        |  FROM qz
        |)
        |SELECT vec_id, label, round(scale, 6) AS scale,
        |  round(list_max(errs), 6) AS max_abs_err,
        |  round(list_reduce(list_transform(errs, e -> e * e), (p, q) -> p + q) / 64, 9) AS mse
        |FROM err
        |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).embeddings
        .select(col("vec_id"), col("label"), col("embedding"),
          (expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
            / 127.0).as("scale"))
        .select(col("vec_id"), col("label"), col("scale"), expr(
          """transform(embedding, x ->
            |  abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale))"""
            .stripMargin).as("errs"))
        .select(col("vec_id"), col("label"),
          round(col("scale"), 6).as("scale"),
          round(expr("array_max(errs)"), 6).as("max_abs_err"),
          round(expr("aggregate(transform(errs, e -> e * e), 0D, (p, q) -> p + q)")
            / 64, 9).as("mse"))
        .orderBy("vec_id")
    },

    // ---- SemDeDup: assign every vector to its nearest fixed-point
    //      centroid (the [[IvfIndex]] cells), then inside each cell drop
    //      the higher-id member of any pair with cosine > 0.35. Reports
    //      the per-cell funnel. Pairs never cross cells — that
    //      approximation is the entire scalability argument of SemDeDup.
    QueryDef.checked(
      "q_semdedup",
      s"""WITH ${IvfIndex.duckCentroidCtes},
         |asim AS (
         |  SELECT e.vec_id, c.cell,
         |    ${IvfIndex.duckMixedCosineSql("c.centroid", "e.embedding")} AS csim
         |  FROM embeddings e, cents c
         |), assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM asim) r
         |  WHERE rn = 1
         |), dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE round(${VectorFunctions.duckCosineSql("ea.embedding", "eb.embedding")}, 6) > 0.35
         |)
         |SELECT cell, count(*) AS n_members,
         |  CAST(count(*) FILTER (WHERE d.vec_id IS NOT NULL) AS BIGINT) AS n_dropped
         |FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
         |GROUP BY cell
         |ORDER BY cell""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val ivf = IvfIndex(nprobe = 1)
      val cents = ivf.centroids(emb)
        .select(col("label").as("cell"), col("centroid"))
      // nearest-cell assignment: broadcast the 10-row centroid table,
      // argmax over cells via a per-vector window rank
      // carry the embedding WITH the assignment so the pair check is a
      // single self-join on cell (vs assigning first and re-joining the
      // vectors back in — two extra corpus-sized shuffles)
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"), col("embedding"),
          ivf.mixedCosine("embedding", "centroid").as("csim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") === 1)
        .select("vec_id", "cell", "embedding")
        .transform(localCheckpoint) // feeds the self-join's two sides + the report
      val dropped = assigned
        .select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("ea"))
        .join(assigned.select(col("cell"), col("vec_id").as("b_id"),
          col("embedding").as("eb")), Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(round(VectorFunctions.cosineSim(col("ea"), col("eb")), 6) > 0.35)
        .select(col("b_id").as("vec_id")).distinct()
        .withColumn("hit", lit(1))
      assigned.join(broadcast(dropped), Seq("vec_id"), "left")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          count(col("hit")).cast("long").as("n_dropped"))
        .orderBy("cell")
    },

    // ---- product quantization: 8 subspaces × 8 dims, 10 codewords per
    //      subspace (fixed-point per-label subvector centroids — the
    //      same deterministic stand-in for trained codebooks that
    //      [[IvfIndex]] uses for cells). Each vector encodes to one
    //      decimal digit per block packed into a bigint, plus its total
    //      squared reconstruction error. With IVF cells this is IVF-PQ:
    //      64 floats → 8 digits, a 32× memory cut that decides whether
    //      a 100 TB index fits executor memory. The codebook (80 rows)
    //      broadcasts; encoding is one scan, error sums are 1e-9
    //      fixed-point so the argmin+sum replay bit-identically.
    QueryDef.checked(
      "q_pq_encode",
      s"""WITH ${IvfIndex.duckSvCcCtes}, $duckPqCtes
        |SELECT vec_id, label,
        |  CAST(sum(code * CAST(pow(10, block) AS BIGINT)) AS BIGINT) AS pq_code,
        |  round(sum(CAST(round(dist * 1000000000) AS BIGINT)) / 1000000000.0, 6) AS sq_err
        |FROM assigned
        |GROUP BY vec_id, label
        |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      pqAssigned(emb, pqCodewords(emb))
        .groupBy("vec_id", "label")
        .agg(expr("CAST(sum(code * CAST(pow(10, block) AS BIGINT)) AS BIGINT)")
          .as("pq_code"),
          round(expr("sum(CAST(round(dist * 1000000000) AS BIGINT))")
            / lit(1000000000.0), 6).as("sq_err"))
        .orderBy("vec_id")
    },

    // ---- PQ asymmetric-distance (ADC) search: the query side of the
    //      codebook q_pq_encode builds. The query vector precomputes an
    //      80-entry (block, code) → squared-distance table ONCE; every
    //      corpus vector's approximate distance is then 8 table lookups
    //      + adds on its stored codes — no float math against the full
    //      vector, which is the entire point of PQ at 100 TB (the scan
    //      touches 8 bytes of code, not 256 bytes of floats). Here the
    //      table is a broadcast join on (block, code) and distances sum
    //      in 1e-9 fixed point; exact squared distance is recomputed
    //      for the reported top-10 only (10-row join), showing the
    //      approximation error alongside.
    QueryDef.checked(
      "q_pq_adc",
      s"""WITH ${IvfIndex.duckSvCcCtes}, $duckPqCtes,
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dt AS (
         |  SELECT w.block, w.code,
         |    list_reduce(list_transform(q.qe[w.block * 8 + 1 : w.block * 8 + 8],
         |      (x, i) -> (CAST(x AS DOUBLE) - w.codeword[i]) * (CAST(x AS DOUBLE) - w.codeword[i])),
         |      (p, q2) -> p + q2) AS qd
         |  FROM cw w, q
         |), adc AS (
         |  SELECT a.vec_id,
         |    CAST(sum(CAST(round(d.qd * 1000000000) AS BIGINT)) AS BIGINT) AS adc_fp
         |  FROM assigned a JOIN dt d ON d.block = a.block AND d.code = a.code
         |  WHERE a.vec_id <> 0
         |  GROUP BY a.vec_id
         |), top AS (
         |  SELECT vec_id, adc_fp FROM adc ORDER BY adc_fp, vec_id LIMIT 10
         |)
         |SELECT t.vec_id, t.adc_fp,
         |  round(list_reduce(list_transform(e.embedding,
         |    (x, i) -> (CAST(x AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
         |             * (CAST(x AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))),
         |    (p, q2) -> p + q2), 6) AS exact_sq
         |FROM top t JOIN embeddings e ON e.vec_id = t.vec_id, q
         |ORDER BY t.adc_fp, t.vec_id""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val cw = pqCodewords(emb)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      // 80-row query-to-codeword distance table (the ADC lookup table)
      val dt = cw.crossJoin(broadcast(query))
        .select(col("block"), col("code"), expr(
          """aggregate(zip_with(slice(qe, CAST(block * 8 + 1 AS INT), 8),
            |  codeword, (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
            |  0D, (p, q) -> p + q)""".stripMargin).as("qd"))
      val adc = pqAssigned(emb, cw)
        .filter(col("vec_id") =!= 0)
        .join(broadcast(dt), Seq("block", "code"))
        .groupBy("vec_id")
        .agg(expr("CAST(sum(CAST(round(qd * 1000000000) AS BIGINT)) AS BIGINT)")
          .as("adc_fp"))
      adc.orderBy(col("adc_fp"), col("vec_id")).limit(10)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .crossJoin(broadcast(query))
        .select(col("vec_id"), col("adc_fp"), round(expr(
          """aggregate(zip_with(embedding, qe,
            |  (x, c) -> (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))
            |           * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))),
            |  0D, (p, q) -> p + q)""".stripMargin), 6).as("exact_sq"))
        .orderBy(col("adc_fp"), col("vec_id"))
    },

    // ---- similarity-graph transitivity audit: triangles and wedges of
    //      the near-dup graph (same label cell, cosine > 0.25, va < vb)
    //      — the QA gate for transitive dedup policies: dropping "all
    //      but one per connected component" is only safe when the
    //      relation is actually transitive, and this measures how much.
    //      Scale: edges are CELL-LOCAL by construction (the semdedup
    //      bound — pair generation never crosses cells), the triangle
    //      join is the standard oriented edge-edge-edge equi-join keyed
    //      on (cell, shared endpoint) — va < vb orientation counts each
    //      triangle exactly once and caps join fan-out by forward
    //      degree, and wedge counts come from the degree aggregate, not
    //      path enumeration. No global structure anywhere.
    QueryDef.checked(
      "q_graph_triangles",
      s"""WITH e AS (
         |  SELECT a.label, a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(${VectorFunctions.duckCosineSql("a.embedding", "b.embedding")}, 6) > 0.25
         |), ends AS (
         |  SELECT label, va AS node FROM e
         |  UNION ALL
         |  SELECT label, vb AS node FROM e
         |), deg AS (
         |  SELECT label, node, count(*) AS d FROM ends GROUP BY label, node
         |), base AS (
         |  SELECT label, count(*) AS n_nodes,
         |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |  FROM deg GROUP BY label
         |), ecnt AS (
         |  SELECT label, count(*) AS n_edges FROM e GROUP BY label
         |), tri AS (
         |  SELECT e1.label, count(*) AS n_tri
         |  FROM e e1
         |  JOIN e e2 ON e2.label = e1.label AND e2.va = e1.vb
         |  JOIN e e3 ON e3.label = e1.label AND e3.va = e1.va AND e3.vb = e2.vb
         |  GROUP BY e1.label
         |)
         |SELECT b.label, b.n_nodes, c.n_edges, b.n_wedges,
         |  coalesce(t.n_tri, 0) AS n_triangles,
         |  round(CASE WHEN b.n_wedges = 0 THEN 0
         |        ELSE 3.0 * coalesce(t.n_tri, 0) / b.n_wedges END, 6)
         |    AS transitivity
         |FROM base b JOIN ecnt c ON c.label = b.label
         |LEFT JOIN tri t ON t.label = b.label
         |ORDER BY b.label""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
        .select(col("vec_id"), col("label"), col("embedding"))
      val right = emb.select(col("label"), col("vec_id").as("vb"),
        col("embedding").as("eb"))
      val edges = emb.join(right, Seq("label"))
        .filter(col("vec_id") < col("vb"))
        .filter(round(VectorFunctions.cosineSim(col("embedding"), col("eb")), 6)
          > 0.25)
        .select(col("label"), col("vec_id").as("va"), col("vb"))
        .transform(localCheckpoint) // 5 consumers: degrees, edge count, 3 join sides
      val deg = edges.select(col("label"), col("va").as("node"))
        .unionAll(edges.select(col("label"), col("vb").as("node")))
        .groupBy("label", "node").agg(count(lit(1)).as("d"))
      val base = deg.groupBy("label")
        .agg(count(lit(1)).as("n_nodes"),
          expr("CAST(sum(d * (d - 1) div 2) AS BIGINT)").as("n_wedges"))
      val ecnt = edges.groupBy("label").agg(count(lit(1)).as("n_edges"))
      val tri = edges.as("e1")
        .join(edges.as("e2"),
          col("e2.label") === col("e1.label") && col("e2.va") === col("e1.vb"))
        .join(edges.as("e3"),
          col("e3.label") === col("e1.label") &&
            col("e3.va") === col("e1.va") && col("e3.vb") === col("e2.vb"))
        .groupBy(col("e1.label").as("label"))
        .agg(count(lit(1)).as("n_tri"))
      base.join(ecnt, Seq("label")).join(tri, Seq("label"), "left")
        .select(col("label"), col("n_nodes"), col("n_edges"), col("n_wedges"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          round(when(col("n_wedges") === 0, lit(0.0))
            .otherwise(lit(3.0) * coalesce(col("n_tri"), lit(0L))
              / col("n_wedges")), 6).as("transitivity"))
        .orderBy("label")
    },

    // ---- matryoshka truncation gate: recall@10 of ranking with only
    //      the first 16 of 64 dims vs the full-dim ranking, per query
    //      (vec_ids 0..9 query the rest of the corpus). Cosine
    //      renormalizes, so prefix truncation needs no re-scaling; a 4×
    //      cut in index bytes is accepted iff recall clears the gate —
    //      the decision that sizes a 100 TB vector index. Both rankings
    //      come from ONE corpus scan (two cosines per row share the
    //      broadcast query vectors); the per-query rank windows
    //      partition by query id, so no global sort. Cosines are
    //      left-to-right array folds — identical IEEE doubles in both
    //      engines (no fixed point needed), ties broken by vec_id.
    QueryDef.checked(
      "q_matryoshka_recall",
      s"""WITH $duckTruncRankCtes
         |SELECT q_id,
         |  CAST(count(*) FILTER (WHERE rn_full <= 10 AND rn_trunc <= 10) AS BIGINT) AS n_overlap,
         |  round(CAST(count(*) FILTER (WHERE rn_full <= 10 AND rn_trunc <= 10) AS DOUBLE) / 10, 6) AS recall_at_10
         |FROM rk GROUP BY q_id
         |ORDER BY q_id""".stripMargin) { (spark, dir) =>
      truncRanked(Tables(spark, dir).embeddings)
        .groupBy("q_id")
        .agg(count(when(col("rn_full") <= 10 && col("rn_trunc") <= 10, 1))
          .cast("long").as("n_overlap"))
        .select(col("q_id"), col("n_overlap"),
          round(col("n_overlap").cast("double") / 10, 6).as("recall_at_10"))
        .orderBy("q_id")
    },

    // ---- offline retrieval evaluation: MRR and nDCG@10 of the
    //      truncated-dim ranking against the full-dim ranking as graded
    //      ground truth (rel = 11 − full rank for the top 10) — the
    //      metric pair every index change ships against, over the same
    //      shared ranking chain as the recall gate. The log2 position
    //      discounts are PRECOMPUTED 1e-9 fixed-point integers injected
    //      into both engines (rank ∈ 1..10, so the discount table has
    //      10 entries) — DCG is a pure-integer sum, immune to libm ln()
    //      ulp drift between JVMs and DuckDB; the single nDCG division
    //      happens once per query row.
    QueryDef.checked(
      "q_retrieval_metrics", {
        s"""WITH $duckTruncRankCtes,
           |scored AS (
           |  SELECT q_id, vec_id, rn_trunc,
           |    CASE WHEN rn_full <= 10 THEN 11 - rn_full ELSE 0 END AS rel
           |  FROM rk WHERE rn_trunc <= 10
           |)
           |SELECT q_id,
           |  CAST(count(*) FILTER (WHERE rel > 0) AS BIGINT) AS n_hits,
           |  round(coalesce(1.0 / min(CASE WHEN rel > 0 THEN rn_trunc END), 0), 6) AS mrr,
           |  round(CAST(sum(CAST(rel AS BIGINT) * (CASE rn_trunc $discountCaseSql END)) AS BIGINT)
           |    / $idcgScaled.0, 6) AS ndcg
           |FROM scored GROUP BY q_id
           |ORDER BY q_id""".stripMargin
      }) { (spark, dir) =>
      truncRanked(Tables(spark, dir).embeddings)
        .filter(col("rn_trunc") <= 10)
        .select(col("q_id"), col("rn_trunc"),
          when(col("rn_full") <= 10, lit(11) - col("rn_full")).otherwise(0)
            .as("rel"))
        .groupBy("q_id")
        .agg(count(when(col("rel") > 0, 1)).cast("long").as("n_hits"),
          round(coalesce(lit(1.0) /
            min(when(col("rel") > 0, col("rn_trunc"))), lit(0d)), 6).as("mrr"),
          round(sum(col("rel").cast("long") *
            expr(s"CASE rn_trunc $discountCaseSql END")).cast("long")
            / lit(idcgScaled.toDouble), 6).as("ndcg"))
        .orderBy("q_id")
    },

    // ---- hard-negative mining for contrastive training: each anchor
    //      finds its nearest RIVAL cluster (highest-cosine centroid of
    //      a different label, 10-row broadcast argmax) and takes the 2
    //      highest-cosine vectors from that cluster as hard negatives —
    //      boundary examples, not random ones, are what make the
    //      contrastive loss learn. Cluster scoping bounds the search
    //      exactly like SemDeDup/IVF: per anchor the candidate set is
    //      one cell's population, never the corpus, and the
    //      anchor×rival-cell join shuffles on the rival label. Same
    //      fixed-point centroid discipline as [[IvfIndex]], so mining
    //      replays bit-identically.
    QueryDef.checked(
      "q_hard_negatives",
      s"""WITH ${IvfIndex.duckCentroidCtes},
         |rsim AS (
         |  SELECT e.vec_id, e.label, c.cell,
         |    ${IvfIndex.duckMixedCosineSql("c.centroid", "e.embedding")} AS csim
         |  FROM embeddings e, cents c WHERE c.cell <> e.label
         |), rival AS (
         |  SELECT vec_id, label, cell AS rival_label FROM (
         |    SELECT vec_id, label, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM rsim) r
         |  WHERE rn = 1
         |), negs AS (
         |  SELECT a.vec_id, a.label, a.rival_label, n.vec_id AS neg_id,
         |    round(${graft.functions.VectorFunctions.duckCosineSql("ea.embedding", "n.embedding")}, 6) AS cos_sim
         |  FROM rival a
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings n ON n.label = a.rival_label
         |)
         |SELECT vec_id, label, rival_label, CAST(rnk AS INTEGER) AS rank, neg_id, cos_sim
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos_sim DESC, neg_id) AS rnk
         |  FROM negs) t
         |WHERE rnk <= 2
         |ORDER BY vec_id, rank""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val ivf = IvfIndex(nprobe = 1)
      val cents = ivf.centroids(emb)
        .select(col("label").as("cell"), col("centroid"))
      val rival = emb.crossJoin(broadcast(cents))
        .filter(col("cell") =!= col("label"))
        .select(col("vec_id"), col("label"), col("cell"),
          ivf.mixedCosine("embedding", "centroid").as("csim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("cell").as("rival_label"))
      rival
        .join(emb.select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id"))
        .join(emb.select(col("label").as("rival_label"),
          col("vec_id").as("neg_id"), col("embedding").as("en")),
          Seq("rival_label"))
        .select(col("vec_id"), col("label"), col("rival_label"), col("neg_id"),
          round(graft.functions.VectorFunctions.cosineSim(col("ea"), col("en")), 6)
            .as("cos_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("cos_sim").desc, col("neg_id"))))
        .filter(col("rnk") <= 2)
        .select(col("vec_id"), col("label"), col("rival_label"),
          col("rnk").as("rank"), col("neg_id"), col("cos_sim"))
        .orderBy("vec_id", "rank")
    },

    // ---- IVF index-health report: per-cell member counts, corpus
    //      share, and hot-cell flag (> 2× the mean cell size). Cell
    //      imbalance is THE operational metric of an IVF index — a hot
    //      cell makes every probe touching it scan-bound — and the
    //      report is one broadcast-assign pass + a cell-count aggregate
    //      (output = cell count, independent of corpus size).
    QueryDef.checked(
      "q_ivf_balance",
      s"""WITH ${IvfIndex.duckCentroidCtes},
         |asim AS (
         |  SELECT e.vec_id, c.cell,
         |    ${IvfIndex.duckMixedCosineSql("c.centroid", "e.embedding")} AS csim
         |  FROM embeddings e, cents c
         |), assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM asim) r
         |  WHERE rn = 1
         |), tot AS (SELECT count(*) AS n FROM assigned)
         |SELECT cell, count(*) AS n_members,
         |  1000 * count(*) // t.n AS share_permille,
         |  count(*) * 10 > 2 * t.n AS is_hot
         |FROM assigned, tot t
         |GROUP BY cell, t.n
         |ORDER BY cell""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val ivf = IvfIndex(nprobe = 1)
      val cents = ivf.centroids(emb)
        .select(col("label").as("cell"), col("centroid"))
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"),
          ivf.mixedCosine("embedding", "centroid").as("csim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") === 1)
        .select("vec_id", "cell")
      val tot = assigned.agg(count(lit(1)).as("n"))
      assigned.groupBy("cell").agg(count(lit(1)).as("n_members"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_members"),
          expr("1000 * n_members div n").as("share_permille"),
          (col("n_members") * 10 > col("n") * 2).as("is_hot"))
        .orderBy("cell")
    },

    // ---- one Lloyd (k-means) refinement iteration: assign every vector
    //      to its nearest seed centroid (the [[IvfIndex]] label means —
    //      the same deterministic stand-in every IVF/PQ query uses),
    //      then recompute each cell's centroid and report how far it
    //      moved. This is the training step that produces the codebooks
    //      q_ann_ivf / q_pq_encode consume. All arithmetic after the
    //      assignment is fixed-point: components scale to 1e-6 longs,
    //      the per-(cell,dim) mean is an integer `div`, the movement is
    //      an L1 sum of longs — order-independent on any partitioning.
    //      (Integer division: Spark's `div` truncates toward zero; the
    //      oracle's `//` runs on a HUGEINT sum whose floor-vs-trunc
    //      behavior has differed across DuckDB versions, so the oracle
    //      spells the division sign-factored — abs-divide-then-resign —
    //      which is truncation under either semantics.)
    //      Scale: one broadcast-assign scan + one (cell,dim)-keyed
    //      aggregate (k×64 rows out); iterating = re-running the same
    //      two stages with the 10-row centroid table swapped.
    QueryDef.checked(
      "q_kmeans_iter",
      s"""WITH ${IvfIndex.duckCentroidCtes},
         |asim AS (
         |  SELECT e.vec_id, c.cell,
         |    ${IvfIndex.duckMixedCosineSql("c.centroid", "e.embedding")} AS csim
         |  FROM embeddings e, cents c
         |), assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM asim) r
         |  WHERE rn = 1
         |), comp AS (
         |  SELECT a.cell, i AS pos,
         |    sum(CAST(round(CAST(e.embedding[i + 1] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM assigned a JOIN embeddings e USING (vec_id), range(64) t(i)
         |  GROUP BY a.cell, i
         |), newc AS (
         |  -- sign-factored so the result is TRUNCATING division on every
         |  -- DuckDB vintage: s is a sum -> HUGEINT, and HUGEINT `//`
         |  -- semantics (floor vs trunc) have differed across versions;
         |  -- abs() makes the numerator non-negative where floor == trunc,
         |  -- matching Spark's `div` exactly
         |  SELECT cell, pos, CAST((abs(s) // n) * sign(s) AS BIGINT) AS nc,
         |    n FROM comp
         |), oldc AS (
         |  SELECT cell, i AS pos,
         |    CAST(round(centroid[i + 1] * 1000000) AS BIGINT) AS oc
         |  FROM cents, range(64) t(i)
         |)
         |SELECT n.cell, max(n.n) AS n_members,
         |  CAST(sum((n.pos + 1) * n.nc) AS BIGINT) AS centroid_checksum,
         |  CAST(sum(abs(n.nc - o.oc)) AS BIGINT) AS l1_move_fp
         |FROM newc n JOIN oldc o ON o.cell = n.cell AND o.pos = n.pos
         |GROUP BY n.cell
         |ORDER BY n.cell""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val ivf = IvfIndex(nprobe = 1)
      val cents = ivf.centroids(emb)
        .select(col("label").as("cell"), col("centroid"))
        .transform(localCheckpoint) // feeds the assignment AND the old-centroid diff
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"), col("embedding"),
          ivf.mixedCosine("embedding", "centroid").as("csim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") === 1)
        .select("cell", "embedding")
      val comp = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("sv", expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy("cell", "pos")
        .agg(sum(col("sv")).as("s"), count(lit(1)).as("n"))
        .withColumn("nc", expr("s div n"))
      val oldc = cents
        .select(col("cell"), posexplode(col("centroid")).as(Seq("pos", "c")))
        .select(col("cell"), col("pos"),
          expr("CAST(round(c * 1000000) AS BIGINT)").as("oc"))
      comp.join(broadcast(oldc), Seq("cell", "pos"))
        .groupBy("cell")
        .agg(max(col("n")).as("n_members"),
          sum((col("pos") + 1) * col("nc")).as("centroid_checksum"),
          sum(abs(col("nc") - col("oc"))).as("l1_move_fp"))
        .orderBy("cell")
    },

    // ---- embedding health audit: per-label L2-norm profile (1e-6
    //      fixed-point after the documented strict fold) plus the
    //      degenerate-vector guards an ingest gate enforces — zero
    //      norms and severely sub-unit norms both poison cosine math
    //      downstream. Stateless per-row norm inside the scan, one
    //      label-keyed aggregate; |labels| rows out.
    QueryDef.checked(
      "q_embedding_stats",
      """SELECT label, count(*) AS n_vecs,
        |  min(norm_fp) AS min_norm_fp, max(norm_fp) AS max_norm_fp,
        |  round(sum(norm_fp) / 1000000.0 / count(*), 6) AS mean_norm,
        |  CAST(sum(CASE WHEN norm_fp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CASE WHEN norm_fp < 500000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_subhalf
        |FROM (
        |  SELECT label,
        |    CAST(round(sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))
        |      * 1000000) AS BIGINT) AS norm_fp
        |  FROM embeddings
        |)
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (spark, dir) =>
      Tables(spark, dir).embeddings
        .select(col("label"),
          expr("""CAST(round(sqrt(aggregate(transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D,
            (acc, v) -> acc + v)) * 1000000) AS BIGINT)""").as("norm_fp"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("norm_fp")).as("min_norm_fp"),
          max(col("norm_fp")).as("max_norm_fp"),
          round(sum(col("norm_fp")) / lit(1000000.0) / count(lit(1)), 6)
            .as("mean_norm"),
          sum(when(col("norm_fp") === 0, 1).otherwise(0)).cast("long")
            .as("n_zero"),
          sum(when(col("norm_fp") < 500000, 1).otherwise(0)).cast("long")
            .as("n_subhalf"))
        .orderBy("label")
    },

    // ---- k-means++ (farthest-first) seeding, 3 rounds unrolled: seed 1
    //      is vec 0; each next seed is the vector maximizing its
    //      min cosine-distance (1e-6 fixed-point) to the seeds chosen so
    //      far. The deterministic farthest-first variant of the k-means++
    //      D² sampling — the seeding half of the training loop whose
    //      update half is [[q_kmeans_iter]]. Each round is one broadcast
    //      of the seed vector + one corpus scan + one 1-row argmax
    //      (ORDER BY LIMIT 1): k rounds cost k scans, never a shuffle of
    //      the corpus.
    QueryDef.checked(
      "q_kmeans_pp",
      s"""WITH s1 AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0
         |), d1 AS (
         |  SELECT e.vec_id,
         |    CAST(round((1 - ${VectorFunctions.duckCosineSql(
               "s.embedding", "e.embedding")}) * 1000000) AS BIGINT) AS d
         |  FROM embeddings e, s1 s WHERE e.vec_id <> 0
         |), s2 AS (
         |  SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1
         |), d2 AS (
         |  SELECT d1.vec_id, least(d1.d,
         |    CAST(round((1 - ${VectorFunctions.duckCosineSql(
               "s.embedding", "e.embedding")}) * 1000000) AS BIGINT)) AS d
         |  FROM d1
         |  JOIN embeddings e ON e.vec_id = d1.vec_id
         |  JOIN embeddings s ON s.vec_id = (SELECT vec_id FROM s2)
         |  WHERE d1.vec_id <> (SELECT vec_id FROM s2)
         |), s3 AS (
         |  SELECT vec_id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1
         |)
         |SELECT 1 AS seed_idx, CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(0 AS BIGINT) AS min_dist_fp FROM s1
         |UNION ALL SELECT 2, vec_id, d FROM s2
         |UNION ALL SELECT 3, vec_id, d FROM s3
         |ORDER BY seed_idx""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      def distTo(seed: org.apache.spark.sql.DataFrame,
          from: org.apache.spark.sql.DataFrame) =
        from.crossJoin(broadcast(seed.select(col("embedding").as("se"))))
          .select(col("vec_id"),
            round((lit(1) - VectorFunctions.cosineSim(col("se"),
              col("embedding"))) * 1000000).cast("long").as("d"))
      val s1 = emb.filter(col("vec_id") === 0)
      val d1 = distTo(s1, emb.filter(col("vec_id") =!= 0))
        .transform(localCheckpoint) // reused by round 2's min() and the argmax
      val s2row = d1.orderBy(col("d").desc, col("vec_id")).limit(1)
        .transform(localCheckpoint)
      val s2vec = emb.join(broadcast(s2row.select("vec_id")), Seq("vec_id"))
      val d2 = d1.join(broadcast(s2row.select(col("vec_id").as("ex"))),
          col("vec_id") === col("ex"), "left_anti")
        .join(emb, Seq("vec_id"))
        .crossJoin(broadcast(s2vec.select(col("embedding").as("se"))))
        .select(col("vec_id"),
          least(col("d"),
            round((lit(1) - VectorFunctions.cosineSim(col("se"),
              col("embedding"))) * 1000000).cast("long")).as("d"))
      val s3row = d2.orderBy(col("d").desc, col("vec_id")).limit(1)
      s1.select(lit(1).as("seed_idx"), col("vec_id").cast("long").as("vec_id"),
          lit(0L).as("min_dist_fp"))
        .unionAll(s2row.select(lit(2), col("vec_id"), col("d")))
        .unionAll(s3row.select(lit(3), col("vec_id"), col("d")))
        .orderBy("seed_idx")
    },

    // ---- contrastive-margin audit: for every vector, the hardest
    //      positive (max cosine, same label, not self) vs the hardest
    //      negative (max cosine, other label); per-label margin stats
    //      tell you whether the embedding space can support contrastive
    //      training at all. The pairwise pass is one self-join with the
    //      codegen'd cosine expression; per-vector argmaxes are integer
    //      fixed-point maxes (no window), and at 100 TB the exact
    //      all-pairs pass is replaced by the IVF/LSH candidate
    //      generation already in this library — the margin math is
    //      unchanged.
    QueryDef.checked(
      "q_contrastive_margin", {
        val cos = graft.functions.VectorFunctions
          .duckCosineSql("a.embedding", "b.embedding")
        s"""WITH pairs AS (
           |  SELECT a.vec_id, a.label AS la, b.label AS lb,
           |    CAST(round(($cos) * 1000000) AS BIGINT) AS sim_fp
           |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
           |), per_vec AS (
           |  SELECT vec_id, la AS label,
           |    max(CASE WHEN lb = la THEN sim_fp END) AS pos_fp,
           |    max(CASE WHEN lb <> la THEN sim_fp END) AS neg_fp
           |  FROM pairs GROUP BY vec_id, la
           |)
           |SELECT label, count(*) AS n_vecs,
           |  round(sum(pos_fp - neg_fp) / 1000000.0 / count(*), 6) AS mean_margin,
           |  CAST(sum(CASE WHEN pos_fp > neg_fp THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_positive_margin
           |FROM per_vec
           |GROUP BY label
           |ORDER BY label""".stripMargin
      }) { (spark, dir) =>
      // norms are per-ROW, so hoist them out of the quadratic pass:
      // the pair kernel drops from three fused accumulations (dot +
      // both norms) to one (dot), and dot/(sqrt(nx)*sqrt(ny)) is
      // BIT-IDENTICAL to the fused cosine — same doubles, same op
      // order — so oracle parity is untouched while the N² loop does
      // a third of the work (measured ~1.0 s → ~0.4 s at sf0.1, which
      // retires the driver-flagged 2× stall headroom on this query)
      val nrm = sqrt(graft.functions.VectorFunctions
        .dotProduct(col("embedding"), col("embedding")))
      val emb = Tables(spark, dir).embeddings
        .select(col("vec_id"), col("label"), col("embedding"),
          nrm.as("na"))
      val right = emb.select(col("vec_id").as("vb"), col("label").as("lb"),
        col("embedding").as("eb"), col("na").as("nb"))
      // spread before the quadratic pass: one file split would pin the
      // all-pairs cosine work to a single task
      val pairs = Tables.spread(emb).crossJoin(broadcast(right))
        .filter(col("vb") =!= col("vec_id"))
        .select(col("vec_id"), col("label"), col("lb"),
          round(when(col("na") === 0.0 || col("nb") === 0.0, lit(null))
            .otherwise(graft.functions.VectorFunctions
              .dotProduct(col("embedding"), col("eb")) /
              (col("na") * col("nb"))) * 1000000)
            .cast("long").as("sim_fp"))
      pairs.groupBy("vec_id", "label")
        .agg(max(when(col("lb") === col("label"), col("sim_fp"))).as("pos_fp"),
          max(when(col("lb") =!= col("label"), col("sim_fp"))).as("neg_fp"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("pos_fp") - col("neg_fp")) / lit(1000000.0)
            / count(lit(1)), 6).as("mean_margin"),
          sum(when(col("pos_fp") > col("neg_fp"), 1).otherwise(0))
            .cast("long").as("n_positive_margin"))
        .orderBy("label")
    },

    // ---- DBSCAN density classification (one labeling pass): within
    //      each label cell, a vector is CORE if it has ≥ 3 neighbors at
    //      cosine > 0.3, BORDER if not core but adjacent to a core,
    //      NOISE otherwise — the density triage a clustering pipeline
    //      runs before committing centroids. The neighbor self-join is
    //      cell-bounded (the SemDeDup bound); degree and the
    //      border-adjacency pass key on vec_id. Same rounded-cosine
    //      threshold discipline as q_embedding_neardup.
    QueryDef.checked(
      "q_dbscan_classify",
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON b.label = a.label AND b.vec_id <> a.vec_id
         |  WHERE round(${VectorFunctions.duckCosineSql("a.embedding", "b.embedding")}, 6) > 0.3
         |), deg AS (
         |  SELECT va AS vec_id, count(*) AS n_nbrs FROM pairs GROUP BY va
         |), core AS (
         |  SELECT vec_id FROM deg WHERE n_nbrs >= 3
         |), nbr_core AS (
         |  SELECT DISTINCT p.va AS vec_id
         |  FROM pairs p JOIN core c ON c.vec_id = p.vb
         |)
         |SELECT e.label,
         |  count(*) AS n_vecs,
         |  CAST(count(*) FILTER (WHERE c.vec_id IS NOT NULL) AS BIGINT)
         |    AS n_core,
         |  CAST(count(*) FILTER (WHERE c.vec_id IS NULL
         |    AND nc.vec_id IS NOT NULL) AS BIGINT) AS n_border,
         |  CAST(count(*) FILTER (WHERE c.vec_id IS NULL
         |    AND nc.vec_id IS NULL) AS BIGINT) AS n_noise
         |FROM embeddings e
         |LEFT JOIN core c ON c.vec_id = e.vec_id
         |LEFT JOIN nbr_core nc ON nc.vec_id = e.vec_id
         |GROUP BY e.label
         |ORDER BY e.label""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val a = emb.select(col("label"), col("vec_id").as("va"),
        col("embedding").as("ea"))
      val bb = emb.select(col("label"), col("vec_id").as("vb"),
        col("embedding").as("eb"))
      val pairs = a.join(bb, Seq("label"))
        .filter(col("vb") =!= col("va"))
        .filter(round(VectorFunctions.cosineSim(col("ea"), col("eb")), 6)
          > 0.3)
        .select("va", "vb")
        .transform(localCheckpoint) // feeds degree + border-adjacency
      val core = pairs.groupBy(col("va").as("vec_id"))
        .agg(count(lit(1)).as("n_nbrs"))
        .filter(col("n_nbrs") >= 3).select("vec_id")
      val nbrCore = pairs
        .join(core.select(col("vec_id").as("vb")), Seq("vb"), "left_semi")
        .select(col("va").as("vec_id")).distinct()
      emb.select(col("label"), col("vec_id"))
        .join(core.select(col("vec_id"), lit(1).as("is_core")),
          Seq("vec_id"), "left")
        .join(nbrCore.select(col("vec_id"), lit(1).as("is_nbr")),
          Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          count(col("is_core")).cast("long").as("n_core"),
          sum(when(col("is_core").isNull && col("is_nbr").isNotNull, 1)
            .otherwise(0)).cast("long").as("n_border"),
          sum(when(col("is_core").isNull && col("is_nbr").isNull, 1)
            .otherwise(0)).cast("long").as("n_noise"))
        .orderBy("label")
    },

    // ---- semi-hard triplet mining (FaceNet's curriculum for the
    //      contrastive loss): anchor → nearest same-label POSITIVE,
    //      then the hardest negative from the nearest rival label whose
    //      similarity stays BELOW the positive's but within a 0.05
    //      margin of it — easy negatives teach nothing and
    //      harder-than-positive ones collapse training, so this band is
    //      the useful one. Candidate scoping is the q_hard_negatives
    //      discipline verbatim: positives search only the anchor's own
    //      label cell, negatives only the 10-row-broadcast-argmax rival
    //      cell — never the corpus. Conditions compare 1e-6-ROUNDED
    //      cosines so the band membership cannot flip between engines.
    //      Anchors with no semi-hard negative drop out (that's the
    //      signal the margin has converged for them).
    QueryDef.checked(
      "q_triplet_mining",
      s"""WITH ${IvfIndex.duckCentroidCtes},
         |pos AS (
         |  SELECT vec_id, label, pos_id, cos_pos FROM (
         |    SELECT a.vec_id, a.label, p.vec_id AS pos_id,
         |      round(${graft.functions.VectorFunctions.duckCosineSql("a.embedding", "p.embedding")}, 6) AS cos_pos,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY round(${graft.functions.VectorFunctions.duckCosineSql("a.embedding", "p.embedding")}, 6) DESC, p.vec_id) AS rn
         |    FROM embeddings a
         |    JOIN embeddings p ON p.label = a.label AND p.vec_id != a.vec_id
         |  ) r WHERE rn = 1
         |), rsim AS (
         |  SELECT e.vec_id, e.label, c.cell,
         |    ${IvfIndex.duckMixedCosineSql("c.centroid", "e.embedding")} AS csim
         |  FROM embeddings e, cents c WHERE c.cell <> e.label
         |), rival AS (
         |  SELECT vec_id, cell AS rival_label FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM rsim) r
         |  WHERE rn = 1
         |), negs AS (
         |  SELECT p.vec_id, p.label, p.pos_id, p.cos_pos, rv.rival_label,
         |    n.vec_id AS neg_id,
         |    round(${graft.functions.VectorFunctions.duckCosineSql("ea.embedding", "n.embedding")}, 6) AS cos_neg
         |  FROM pos p
         |  JOIN rival rv ON rv.vec_id = p.vec_id
         |  JOIN embeddings ea ON ea.vec_id = p.vec_id
         |  JOIN embeddings n ON n.label = rv.rival_label
         |), shband AS (
         |  SELECT * FROM negs
         |  WHERE cos_neg < cos_pos AND cos_neg >= cos_pos - 0.05
         |)
         |SELECT vec_id, label, pos_id, neg_id, cos_pos, cos_neg,
         |  round(cos_pos - cos_neg, 6) AS band_gap
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos_neg DESC, neg_id) AS rn
         |  FROM shband) t
         |WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
        .transform(localCheckpoint) // anchor, positive, and negative sides
      val ivf = IvfIndex(nprobe = 1)
      val cents = ivf.centroids(emb)
        .select(col("label").as("cell"), col("centroid"))
      val cos = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        round(graft.functions.VectorFunctions.cosineSim(a, b), 6)
      val pos = emb.select(col("vec_id"), col("label"), col("embedding"))
        .join(emb.select(col("label"), col("vec_id").as("pos_id"),
          col("embedding").as("ep")), Seq("label"))
        .filter(col("pos_id") =!= col("vec_id"))
        .select(col("vec_id"), col("label"), col("embedding"), col("pos_id"),
          cos(col("embedding"), col("ep")).as("cos_pos"))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cos_pos").desc, col("pos_id"))))
        .filter(col("rn") === 1)
        .drop("rn")
      val rival = emb.crossJoin(broadcast(cents))
        .filter(col("cell") =!= col("label"))
        .select(col("vec_id"), col("cell"),
          ivf.mixedCosine("embedding", "centroid").as("csim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cell").as("rival_label"))
      pos
        .join(rival, Seq("vec_id"))
        .join(emb.select(col("label").as("rival_label"),
          col("vec_id").as("neg_id"), col("embedding").as("en")),
          Seq("rival_label"))
        .select(col("vec_id"), col("label"), col("pos_id"), col("cos_pos"),
          col("neg_id"), cos(col("embedding"), col("en")).as("cos_neg"))
        .filter(col("cos_neg") < col("cos_pos") &&
          col("cos_neg") >= col("cos_pos") - 0.05)
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cos_neg").desc, col("neg_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("pos_id"), col("neg_id"),
          col("cos_pos"), col("cos_neg"),
          round(col("cos_pos") - col("cos_neg"), 6).as("band_gap"))
        .orderBy("vec_id")
    },

    // ---- KNN-Shapley data valuation (Jia et al.'s closed form for the
    //      1-NN utility): per test query, every training point's exact
    //      Shapley contribution falls out of one distance-sorted suffix
    //      scan — s_n = 1[y_n=y]/n, s_i = s_{i+1} + (1[y_i=y] −
    //      1[y_{i+1}=y])/i — no coalition enumeration. The per-query
    //      window is the q_ann_batch_topk shape (partitioned by query
    //      over the candidate set; at 100 TB you pre-cut candidates
    //      with the IVF index and run the same recurrence on the
    //      shortlist). Output: each query's 5 most valuable training
    //      points — the examples worth keeping when the budget bites.
    QueryDef.checked(
      "q_knn_shapley",
      s"""WITH test AS (
         |  SELECT vec_id AS q_id, embedding AS qe, label AS qy
         |  FROM embeddings WHERE vec_id < 5
         |), train AS (
         |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5
         |), d AS (
         |  SELECT t.q_id, t.qy, r.vec_id, r.label,
         |    round(${graft.functions.VectorFunctions.duckCosineSql("t.qe", "r.embedding")}, 6) AS sim
         |  FROM test t, train r
         |), ranked AS (
         |  SELECT q_id, qy, vec_id, label, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
         |      AS i,
         |    count(*) OVER (PARTITION BY q_id) AS n
         |  FROM d
         |), terms AS (
         |  SELECT q_id, vec_id, i, n, sim,
         |    CASE WHEN label = qy THEN 1 ELSE 0 END AS a,
         |    lead(CASE WHEN label = qy THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY q_id ORDER BY i) AS a_next
         |  FROM ranked
         |), contrib AS (
         |  SELECT q_id, vec_id, i, sim,
         |    CASE WHEN i = n THEN CAST(a AS DOUBLE) / n
         |      ELSE CAST(a - a_next AS DOUBLE) / i END AS dterm
         |  FROM terms
         |), shap AS (
         |  SELECT q_id, vec_id, i, sim,
         |    sum(dterm) OVER (PARTITION BY q_id ORDER BY i DESC) AS s
         |  FROM contrib
         |)
         |SELECT q_id, CAST(rnk AS INT) AS rank, vec_id,
         |  round(s, 6) AS shapley, sim
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY s DESC, vec_id) AS rnk
         |  FROM shap) z
         |WHERE rnk <= 5
         |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val test = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("qy"))
      val ranked = emb.filter(col("vec_id") >= 5)
        .crossJoin(broadcast(test))
        .select(col("q_id"), col("qy"), col("vec_id"), col("label"),
          round(graft.functions.VectorFunctions.cosineSim(
            col("qe"), col("embedding")), 6).as("sim"))
        .withColumn("i", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("q_id")))
      val wAsc = Window.partitionBy("q_id").orderBy("i")
      val contrib = ranked
        .withColumn("a", when(col("label") === col("qy"), 1).otherwise(0))
        .withColumn("a_next", lead(col("a"), 1).over(wAsc))
        .withColumn("dterm",
          when(col("i") === col("n"), col("a").cast("double") / col("n"))
            .otherwise((col("a") - col("a_next")).cast("double") / col("i")))
      contrib
        .withColumn("s", sum(col("dterm")).over(
          Window.partitionBy("q_id").orderBy(col("i").desc)))
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("s").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk").cast("int").as("rank"), col("vec_id"),
          round(col("s"), 6).as("shapley"), col("sim"))
        .orderBy("q_id", "rank")
    },

    // ---- embedding whitening (2-dim slice): Σ^{-1/2} from the
    //      closed-form 2×2 eigensystem via the identity
    //      C^{1/2} = (C + √(λ1λ2)·I) / (√λ1 + √λ2), inverted
    //      analytically — whitening decorrelates the embedding space so
    //      cosine stops over-weighting dominant directions (the
    //      standard retrieval post-process). ONE moments aggregate; the
    //      matrix algebra is 1-row arithmetic, and the output carries
    //      the audit: the whitened covariance must come back as the
    //      identity. At 64 dims the same job is per-block 2×2/arrowhead
    //      approximations or a driver-side eigensolve of the 64×64
    //      moment matrix — the corpus pass is identical.
    QueryDef.checked(
      "q_whitening_2d",
      """WITH x AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS x1,
        |    CAST(embedding[2] AS DOUBLE) AS x2
        |  FROM embeddings
        |), m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x1 AS DECIMAL(38,18))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(x2 AS DECIMAL(38,18))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x1 * x1 AS DECIMAL(38,18))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(x1 * x2 AS DECIMAL(38,18))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(x2 * x2 AS DECIMAL(38,18))) AS DOUBLE) AS s22
        |  FROM x
        |), c AS (
        |  SELECT n, s11 / n - (s1 / n) * (s1 / n) AS c11,
        |    s12 / n - (s1 / n) * (s2 / n) AS c12,
        |    s22 / n - (s2 / n) * (s2 / n) AS c22
        |  FROM m
        |), eig AS (
        |  SELECT n, c11, c12, c22,
        |    (c11 + c22) / 2
        |      + sqrt(((c11 - c22) / 2) * ((c11 - c22) / 2) + c12 * c12) AS l1,
        |    (c11 + c22) / 2
        |      - sqrt(((c11 - c22) / 2) * ((c11 - c22) / 2) + c12 * c12) AS l2
        |  FROM c
        |), w AS (
        |  SELECT n, c11, c12, c22, l1, l2,
        |    sqrt(l1) + sqrt(l2) AS s, sqrt(l1 * l2) AS d
        |  FROM eig
        |), inv AS (
        |  SELECT n, c11, c12, c22, l1, l2,
        |    s * (c22 + d) / ((c11 + d) * (c22 + d) - c12 * c12) AS w11,
        |    s * (-c12) / ((c11 + d) * (c22 + d) - c12 * c12) AS w12,
        |    s * (c11 + d) / ((c11 + d) * (c22 + d) - c12 * c12) AS w22
        |  FROM w
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(c11, 6) AS c11, round(c12, 6) AS c12, round(c22, 6) AS c22,
        |  round(l1, 6) AS eig1, round(l2, 6) AS eig2,
        |  round(w11, 6) AS w11, round(w12, 6) AS w12, round(w22, 6) AS w22,
        |  round(w11 * c11 * w11 + 2 * w11 * c12 * w12 + w12 * c22 * w12, 6)
        |    AS check_var1,
        |  round(w12 * c11 * w12 + 2 * w12 * c12 * w22 + w22 * c22 * w22, 6)
        |    AS check_var2,
        |  round(w11 * c11 * w12 + w11 * c12 * w22 + w12 * c12 * w12
        |    + w12 * c22 * w22, 6) AS check_cov
        |FROM inv""".stripMargin) { (spark, dir) =>
      // ONE distributed moments aggregate; the 2×2 matrix algebra runs
      // on the collected 1-row result (the bounded-collect discipline).
      // Moments are summed in DECIMAL(38,18): products of doubles cast
      // identically on both engines and decimal addition is associative,
      // so the sum is independent of Spark's partial-aggregate order —
      // IEEE double sums drift with accumulation order and that drift
      // survived round(.,6) at a digit boundary (round-5 hash miss).
      // Driver scalar math then replays the closed form bit-for-bit
      // against the oracle's textual order of operations.
      def dsum(c: Column): Column =
        sum(c.cast("decimal(38,18)")).cast("double")
      val m = Tables(spark, dir).embeddings
        .select(expr("CAST(embedding[0] AS DOUBLE)").as("x1"),
          expr("CAST(embedding[1] AS DOUBLE)").as("x2"))
        .agg(count(lit(1)).as("n"), dsum(col("x1")).as("s1"),
          dsum(col("x2")).as("s2"), dsum(col("x1") * col("x1")).as("s11"),
          dsum(col("x1") * col("x2")).as("s12"),
          dsum(col("x2") * col("x2")).as("s22"))
        .first()
      val n = m.getAs[Long]("n").toDouble
      val (s1, s2) = (m.getAs[Double]("s1"), m.getAs[Double]("s2"))
      val c11 = m.getAs[Double]("s11") / n - (s1 / n) * (s1 / n)
      val c12 = m.getAs[Double]("s12") / n - (s1 / n) * (s2 / n)
      val c22 = m.getAs[Double]("s22") / n - (s2 / n) * (s2 / n)
      val disc = math.sqrt(((c11 - c22) / 2) * ((c11 - c22) / 2) + c12 * c12)
      val l1 = (c11 + c22) / 2 + disc
      val l2 = (c11 + c22) / 2 - disc
      val s = math.sqrt(l1) + math.sqrt(l2)
      val d = math.sqrt(l1 * l2)
      val det = (c11 + d) * (c22 + d) - c12 * c12
      val (w11, w12, w22) =
        (s * (c22 + d) / det, s * -c12 / det, s * (c11 + d) / det)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import spark.implicits._
      // check_cov rounds a ~1e-17 residual: DuckDB's round preserves the
      // IEEE sign (-0.0) where BigDecimal has no signed zero (0.0), and
      // the driver hash distinguishes them (r6 red row). The oracle side
      // is normalized fleet-wide by Parity.normalizeSignedZero; the
      // explicit `+ 0.0` below mirrors it on the driver-math side.
      Seq((m.getAs[Long]("n"), r6(c11), r6(c12), r6(c22), r6(l1), r6(l2),
        r6(w11), r6(w12), r6(w22),
        r6(w11 * c11 * w11 + 2 * w11 * c12 * w12 + w12 * c22 * w12),
        r6(w12 * c11 * w12 + 2 * w12 * c12 * w22 + w22 * c22 * w22),
        r6(w11 * c11 * w12 + w11 * c12 * w22 + w12 * c12 * w12
          + w12 * c22 * w22) + 0.0))
        .toDF("n", "c11", "c12", "c22", "eig1", "eig2", "w11", "w12", "w22",
          "check_var1", "check_var2", "check_cov")
    },

    // ---- orthogonal Procrustes alignment (2-dim slices): the rotation
    //      mapping dims (1,2) onto dims (3,4) has the closed form
    //      θ = atan2(Σ(x1y2 − x2y1), Σ(x1y1 + x2y2)) — the 2D SVD
    //      solved analytically — and the aligned error is
    //      Σ|x|² + Σ|y|² − 2√(Sc² + Ss²), so ONE moments pass yields
    //      the map and its quality. This is embedding-space migration
    //      (align an old model's space to a new one) at its smallest;
    //      higher dims go through the same cross-covariance moments
    //      with a driver-side SVD of the tiny d×d matrix.
    QueryDef.checked(
      "q_procrustes_2d",
      """WITH x AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS x1,
        |    CAST(embedding[2] AS DOUBLE) AS x2,
        |    CAST(embedding[3] AS DOUBLE) AS y1,
        |    CAST(embedding[4] AS DOUBLE) AS y2
        |  FROM embeddings
        |), m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x1 * y1 + x2 * y2 AS DECIMAL(38,18)))
        |      AS DOUBLE) AS sc,
        |    CAST(sum(CAST(x1 * y2 - x2 * y1 AS DECIMAL(38,18)))
        |      AS DOUBLE) AS ss,
        |    CAST(sum(CAST(x1 * x1 + x2 * x2 AS DECIMAL(38,18)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y1 * y1 + y2 * y2 AS DECIMAL(38,18)))
        |      AS DOUBLE) AS syy,
        |    CAST(sum(CAST((x1 - y1) * (x1 - y1) + (x2 - y2) * (x2 - y2)
        |      AS DECIMAL(38,18))) AS DOUBLE) AS e_before
        |  FROM x
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(atan2(ss, sc), 6) AS theta,
        |  round(e_before, 6) AS err_before,
        |  round(sxx + syy - 2 * sqrt(sc * sc + ss * ss), 6) AS err_after,
        |  round((e_before - (sxx + syy - 2 * sqrt(sc * sc + ss * ss)))
        |    / e_before, 6) AS err_reduction
        |FROM m""".stripMargin) { (spark, dir) =>
      // Same order-proof discipline as q_whitening_2d: per-row double
      // arithmetic is identical on both engines, so casting the row
      // value to DECIMAL(38,18) and summing in decimal makes the
      // moments independent of partial-aggregate order.
      def dsum(c: Column): Column =
        sum(c.cast("decimal(38,18)")).cast("double")
      val m = Tables(spark, dir).embeddings
        .select(expr("CAST(embedding[0] AS DOUBLE)").as("x1"),
          expr("CAST(embedding[1] AS DOUBLE)").as("x2"),
          expr("CAST(embedding[2] AS DOUBLE)").as("y1"),
          expr("CAST(embedding[3] AS DOUBLE)").as("y2"))
        .agg(count(lit(1)).as("n"),
          dsum(col("x1") * col("y1") + col("x2") * col("y2")).as("sc"),
          dsum(col("x1") * col("y2") - col("x2") * col("y1")).as("ss"),
          dsum(col("x1") * col("x1") + col("x2") * col("x2")).as("sxx"),
          dsum(col("y1") * col("y1") + col("y2") * col("y2")).as("syy"),
          dsum((col("x1") - col("y1")) * (col("x1") - col("y1"))
            + (col("x2") - col("y2")) * (col("x2") - col("y2")))
            .as("e_before"))
      val errAfter = col("sxx") + col("syy") -
        lit(2) * sqrt(col("sc") * col("sc") + col("ss") * col("ss"))
      m.select(col("n").cast("long").as("n"),
        round(atan2(col("ss"), col("sc")), 6).as("theta"),
        round(col("e_before"), 6).as("err_before"),
        round(errAfter, 6).as("err_after"),
        round((col("e_before") - errAfter) / col("e_before"), 6)
          .as("err_reduction"))
    }
  )
}
