package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.functions.VectorFunctions

/** Hyperplane components derived from md5 — the SQL-reproducible twin of
  * [[VectorLSH]]'s seeded planes: plane[j][d] = (md5h64("plane_j_d") %
  * 2001 − 1000) / 1000 ∈ [−1, 1]. Rendered as shortest-roundtrip double
  * literals, so the Spark plan and the DuckDB oracle fold the exact same
  * IEEE values. */
private[operators] object Md5Planes {
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  def value(j: Int, d: Int): Double =
    ((h60(s"plane_${j}_$d") % 2001L) - 1000L) / 1000.0

  /** SQL double literal that parses back to the identical IEEE value. */
  def component(j: Int, d: Int): String = {
    val v = value(j, d)
    if (v == v.toLong.toDouble) s"${v.toLong}D" else s"${v}D"
  }
}

/** Similarity search over the `embeddings` table (north star).
  *
  * Baseline: brute-force cosine top-k with the codegen'd
  * [[graft.functions.CosineSimilarity]] expression — a single scan, no
  * shuffle except the final top-k (TakeOrderedAndProject: per-partition
  * heaps + k-row merge, so it scales to billions of vectors).
  *
  * Scale path: [[IvfIndex]] — coarse quantization into per-label cells
  * (stand-in for k-means centroids), query probes the nearest `nprobe`
  * cells only, cutting the scanned fraction to nprobe/cells. The recall
  * contract vs brute force is asserted in SimilaritySpec.
  */
object Similarity {

  private def cosSimSql = VectorFunctions.duckCosineSql("a.embedding", "b.embedding")

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force ANN: top-10 cosine neighbours of vec_id 0
    QueryDef.checked(
      "q_ann_bruteforce",
      s"""SELECT b.vec_id, round($cosSimSql, 6) AS sim
         |FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a, embeddings b
         |WHERE b.vec_id <> 0
         |ORDER BY round($cosSimSql, 6) DESC, b.vec_id
         |LIMIT 10""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(query))
        .select(col("vec_id"),
          round(VectorFunctions.cosineSim(col("q_embedding"), col("embedding")), 6)
            .as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },

    // ---- embedding near-dup scan: cosine between consecutive vec_ids
    //      (linear candidate generation, threshold flag at 0.3)
    QueryDef.checked(
      "q_embedding_neardup",
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round($cosSimSql, 6) AS sim,
         |  round($cosSimSql, 6) > 0.3 AS is_neardup
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |ORDER BY vec_a""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, col("vec_b") === col("vec_a") + 1)
        .select(col("vec_a"), col("vec_b"),
          round(VectorFunctions.cosineSim(col("ea"), col("eb")), 6).as("sim"))
        .withColumn("is_neardup", col("sim") > 0.3)
        .orderBy("vec_a")
    },

    // ---- random-hyperplane LSH near-dup over embeddings: bucket-join
    //      candidates + exact-cosine verification; summary row (the
    //      corpus has no true vector dups — VectorLSHSpec plants some).
    //      Engine-private hyperplanes → no SQL oracle, but the query is
    //      SELF-CONVICTING via an in-query differential gate: the one
    //      piece no hash-checked twin covers is the signature pass
    //      (seeded planes through the custom codegen'd dot product), so
    //      it is recomputed here with stock Spark HOFs (zip_with +
    //      aggregate — double accumulation in the same left-to-right
    //      order, bitwise-identical arithmetic) and required EQUAL row
    //      by row. The md5-plane twin (q_vector_lsh_signatures)
    //      hash-checks the identical banding construction end-to-end;
    //      the exact-cosine verification expression is hash-checked by
    //      q_ann_bruteforce / q_embedding_neardup.
    QueryDef.rowsOnly("q_vector_lsh_neardup") { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val lsh = VectorLSH(bits = 16, bands = 4, dim = 64)
      val planesLit = typedLit(lsh.planeVectors)
      val hofSig = (0 until 16).map { j =>
        when(aggregate(
          zip_with(col("embedding"), element_at(planesLit, j + 1),
            (x, p) => x.cast("double") * p.cast("double")),
          lit(0.0), (acc, v) => acc + v) > 0, lit(1L << j))
          .otherwise(0L)
      }.reduce(_ + _)
      val mismatched = lsh.signatures(emb)
        .join(emb.select(col("vec_id"), hofSig.as("sig_hof")), Seq("vec_id"))
        .filter(col("sig") =!= col("sig_hof")).count()
      require(mismatched == 0,
        s"LSH signature differential: $mismatched rows disagree between " +
          "the codegen dot-product path and the stock-HOF recount")
      lsh.report(emb, threshold = 0.4)
    },

    // ---- IVF-style ANN: probe nearest cells only. Fixed-point centroid
    //      averaging (see IvfIndex) makes the whole pipeline — centroid
    //      build, probe selection, cell-restricted scan, top-k —
    //      bit-reproducible, so the oracle replays it end-to-end.
    //      SimilaritySpec additionally asserts recall ≥ 0.6 vs brute force.
    QueryDef.checked(
      "q_ann_ivf",
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |${IvfIndex.duckCentroidCtes},
         |csims AS (
         |  SELECT cell AS label,
         |    ${IvfIndex.duckMixedCosineSql("centroid", "q.embedding")} AS csim
         |  FROM cents, q
         |), probe AS (SELECT label FROM csims ORDER BY csim DESC, label LIMIT 3)
         |SELECT b.vec_id, round(${VectorFunctions.duckCosineSql("q.embedding", "b.embedding")}, 6) AS sim
         |FROM embeddings b JOIN probe USING (label), q
         |WHERE b.vec_id <> 0
         |ORDER BY sim DESC, vec_id
         |LIMIT 10""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      IvfIndex(nprobe = 3).topK(emb, queryVecId = 0, k = 10)
    },

    // ---- batched ANN join: top-5 neighbours for EACH of 5 query vectors
    //      in one pass — the production shape (queries arrive in batches,
    //      not one at a time). One scan of the corpus per batch: the tiny
    //      query set broadcasts, similarity computes corpus-side in the
    //      codegen'd expression, and the per-query top-k is a window
    //      rank over (q_id), shuffling only on the query key.
    QueryDef.checked(
      "q_ann_batch_topk",
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
         |), sims AS (
         |  SELECT q_id, b.vec_id,
         |    round(${VectorFunctions.duckCosineSql("q.q_emb", "b.embedding")}, 6) AS sim
         |  FROM q, embeddings b WHERE b.vec_id <> q_id
         |), ranked AS (
         |  SELECT q_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM sims
         |)
         |SELECT q_id, vec_id, sim, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY q_id, rn""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables(spark, dir).embeddings
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(VectorFunctions.cosineSim(col("q_emb"), col("embedding")), 6)
            .as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
        .orderBy("q_id", "rn")
    },

    // ---- random-hyperplane LSH signatures with md5-DERIVED planes:
    //      plane[j][d] = (md5h64('plane_j_d') % 2001 − 1000) / 1000 —
    //      reproducible in SQL, so the packed 16-bit signature and its
    //      4 band buckets are hash-checked end-to-end (the engine-seeded
    //      production path stays in VectorLSH/q_vector_lsh_neardup).
    QueryDef.checked(
      "q_vector_lsh_signatures",
      s"""WITH sigs AS (
         |  SELECT vec_id,
         |    CAST(list_sum(list_transform(range(16), j ->
         |      CASE WHEN list_reduce(list_transform(e.embedding, (x, i) ->
         |             CAST(x AS DOUBLE) *
         |             ((CAST(concat('0x', substring(md5(concat('plane_', j, '_', i - 1)), 1, 15)) AS BIGINT)
         |               % 2001 - 1000) / 1000.0)), (p, r) -> p + r) > 0
         |        THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM embeddings e
         |)
         |SELECT vec_id, sig,
         |  CAST(sig % 16 AS BIGINT) AS bucket0,
         |  CAST((sig // 16) % 16 AS BIGINT) AS bucket1,
         |  CAST((sig // 256) % 16 AS BIGINT) AS bucket2,
         |  CAST((sig // 4096) % 16 AS BIGINT) AS bucket3
         |FROM sigs
         |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val sig = (0 until 16).map { j =>
        val planeSql = (0 until 64).map(Md5Planes.component(j, _)).mkString(", ")
        when(expr(
          s"""aggregate(zip_with(embedding, array($planeSql),
             |  (x, p) -> CAST(x AS DOUBLE) * p), 0D, (acc, v) -> acc + v)"""
            .stripMargin) > 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _)
      emb.select(col("vec_id"), sig.as("sig"))
        .select(col("vec_id"), col("sig"),
          expr("sig % 16").as("bucket0"),
          expr("(sig div 16) % 16").as("bucket1"),
          expr("(sig div 256) % 16").as("bucket2"),
          expr("(sig div 4096) % 16").as("bucket3"))
        .orderBy("vec_id")
    },

    // ---- MMR diversified top-k: greedy maximal-marginal-relevance
    //      rerank of the top-20 candidates for query vec 0 — pick 5,
    //      each maximizing λ·sim(q,d) − (1−λ)·max sim(d, selected)
    //      (λ=0.7). The rerank the retrieval stack runs AFTER ANN so
    //      the k results aren't five copies of the same cluster. Greedy
    //      selection is inherently sequential, but each step touches
    //      only the bounded candidate set (|C| ≤ 20 here; ≤ 1000 in
    //      production), never the corpus: candidates and their pairwise
    //      cosines are checkpointed once, and the 5-step loop joins
    //      20-row relations. Oracle replays the same greedy unrolled as
    //      CTE steps. Scores stay unrounded doubles for ranking
    //      (identical IEEE in both engines — inputs are 6-dp-rounded
    //      cosines), rounded only for output; ties break by vec_id.
    QueryDef.checked(
      "q_mmr_topk", {
        val steps = (2 to 5).map { i =>
          s"""p$i AS (
             |  SELECT c.vec_id, $i AS pick, 0.7 * c.simq - 0.3 * m.ms AS score
             |  FROM cand c JOIN (
             |    SELECT aid, max(s) AS ms FROM pw
             |    WHERE bid IN (SELECT vec_id FROM sel${i - 1}) GROUP BY aid) m
             |    ON m.aid = c.vec_id
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
             |  ORDER BY score DESC, c.vec_id LIMIT 1
             |), sel$i AS (
             |  SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM p$i
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |cand AS (
           |  SELECT b.vec_id, b.embedding,
           |    round(${VectorFunctions.duckCosineSql("q0.qe", "b.embedding")}, 6) AS simq
           |  FROM embeddings b, q0 WHERE b.vec_id <> 0
           |  ORDER BY simq DESC, b.vec_id LIMIT 20
           |), pw AS (
           |  SELECT a.vec_id AS aid, b.vec_id AS bid,
           |    round(${VectorFunctions.duckCosineSql("a.embedding", "b.embedding")}, 6) AS s
           |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id
           |), p1 AS (
           |  SELECT vec_id, 1 AS pick, 0.7 * simq AS score FROM cand
           |  ORDER BY score DESC, vec_id LIMIT 1
           |), sel1 AS (SELECT vec_id FROM p1),
           |$steps
           |SELECT pick, vec_id, round(score, 6) AS mmr_score
           |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
           |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
           |      UNION ALL SELECT * FROM p5)
           |ORDER BY pick""".stripMargin
      }) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      val q0 = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cand = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("embedding"),
          round(VectorFunctions.cosineSim(col("qe"), col("embedding")), 6)
            .as("simq"))
        .orderBy(col("simq").desc, col("vec_id")).limit(20)
        .transform(localCheckpoint)
      val pw = cand.select(col("vec_id").as("aid"), col("embedding").as("ea"))
        .crossJoin(cand.select(col("vec_id").as("bid"), col("embedding").as("eb")))
        .filter(col("aid") =!= col("bid"))
        .select(col("aid"), col("bid"),
          round(VectorFunctions.cosineSim(col("ea"), col("eb")), 6).as("s"))
        .transform(localCheckpoint)
      var picks = cand
        .select(col("vec_id"), lit(1).as("pick"), (lit(0.7) * col("simq")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .transform(localCheckpoint)
      for (i <- 2 to 5) {
        val selIds = picks.select("vec_id")
        val ms = pw.join(selIds.withColumnRenamed("vec_id", "bid"), Seq("bid"))
          .groupBy("aid").agg(max(col("s")).as("ms"))
        val next = cand.join(selIds, Seq("vec_id"), "left_anti")
          .join(ms, col("vec_id") === col("aid"))
          .select(col("vec_id"), lit(i).as("pick"),
            (lit(0.7) * col("simq") - lit(0.3) * col("ms")).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
        picks = picks.union(next).transform(localCheckpoint)
      }
      picks
        .select(col("pick"), col("vec_id"), round(col("score"), 6).as("mmr_score"))
        .orderBy("pick")
    },

    // ---- kNN classification eval: label the 50-vector test slice by
    //      majority vote of its 5 nearest train neighbours (cosine),
    //      report per-class accuracy — the sanity eval that tells you
    //      whether an embedding space separates the classes AT ALL
    //      before anything trains on it. Same physical shape as
    //      [[q_ann_batch_topk]]: test set broadcasts, similarity runs
    //      corpus-side in the codegen'd expression, per-query windows
    //      shuffle on the query key only; votes and the argmax
    //      tie-break (votes desc, label asc) are pure integers.
    QueryDef.checked(
      "q_knn_classify",
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, label AS true_label, embedding AS qe
         |  FROM embeddings WHERE vec_id < 50
         |), t AS (
         |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 50
         |), sims AS (
         |  SELECT q.q_id, q.true_label, t.vec_id, t.label,
         |    round(${VectorFunctions.duckCosineSql("q.qe", "t.embedding")}, 6)
         |      AS sim
         |  FROM q, t
         |), top5 AS (
         |  SELECT q_id, true_label, label FROM (
         |    SELECT q_id, true_label, label,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
         |        AS rn
         |    FROM sims) r
         |  WHERE rn <= 5
         |), votes AS (
         |  SELECT q_id, true_label, label, count(*) AS v
         |  FROM top5 GROUP BY q_id, true_label, label
         |), pred AS (
         |  SELECT q_id, true_label, label AS pred_label FROM (
         |    SELECT q_id, true_label, label,
         |      row_number() OVER (PARTITION BY q_id ORDER BY v DESC, label) AS rn
         |    FROM votes) r
         |  WHERE rn = 1
         |)
         |SELECT true_label, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS accuracy
         |FROM pred
         |GROUP BY true_label
         |ORDER BY true_label""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables(spark, dir).embeddings
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("embedding").as("qe"))
      val t = emb.filter(col("vec_id") >= 50)
      val top5 = t.crossJoin(broadcast(q))
        .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
          round(VectorFunctions.cosineSim(col("qe"), col("embedding")), 6)
            .as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
      val pred = top5.groupBy("q_id", "true_label", "label")
        .agg(count(lit(1)).as("v"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("v").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("true_label"), col("label").as("pred_label"))
      pred.groupBy("true_label")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("pred_label") === col("true_label"), 1).otherwise(0))
            .cast("long").as("n_correct"))
        .select(col("true_label"), col("n_queries"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_queries"), 6)
            .as("accuracy"))
        .orderBy("true_label")
    },

    // ---- binary quantization + hamming rerank (the BQ serving path):
    //      sign-bit-pack each 64-dim embedding into two 32-bit words,
    //      shortlist the 30 nearest codes by hamming distance to the
    //      query's code, then exact-cosine rerank the shortlist to a
    //      top-10. At 100 TB only the 8-byte codes column scans (64×
    //      smaller than the floats); the floats are read back for 30
    //      rows. Two 32-bit words rather than one 64-bit pack keeps bit
    //      63 out of the BIGINT sign position on both engines.
    QueryDef.checked(
      "q_binary_hamming_rerank",
      s"""WITH bits AS (
        |  SELECT e.vec_id, t.i,
        |    CASE WHEN CAST(e.embedding[t.i + 1] AS DOUBLE) >= 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM embeddings e, range(64) t(i)
        |), codes AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i)
        |             ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32))
        |             ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY vec_id
        |), qc AS (
        |  SELECT lo AS q_lo, hi AS q_hi FROM codes WHERE vec_id = 0
        |), cand AS (
        |  SELECT c.vec_id,
        |    CAST(bit_count(xor(c.lo, q_lo)) + bit_count(xor(c.hi, q_hi))
        |      AS BIGINT) AS hamming
        |  FROM codes c, qc WHERE c.vec_id <> 0
        |  ORDER BY hamming, c.vec_id LIMIT 30
        |)
        |SELECT b.vec_id, c.hamming, round($cosSimSql, 6) AS sim
        |FROM cand c
        |JOIN embeddings b ON b.vec_id = c.vec_id,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0) a
        |ORDER BY round($cosSimSql, 6) DESC, b.vec_id
        |LIMIT 10""".stripMargin) { (spark, dir) =>
      val emb = Tables(spark, dir).embeddings
      def pack(off: Int) =
        expr(s"""aggregate(zip_with(slice(embedding, ${off + 1}, 32),
          |  sequence(0, 31),
          |  (x, i) -> IF(CAST(x AS DOUBLE) >= 0,
          |            shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
          |  CAST(0 AS BIGINT), (p, q) -> p + q)""".stripMargin)
      val codes = emb.select(col("vec_id"),
        pack(0).as("lo"), pack(32).as("hi"))
      val qc = codes.filter(col("vec_id") === 0)
        .select(col("lo").as("q_lo"), col("hi").as("q_hi"))
      // TakeOrderedAndProject top-30 on the 16-byte code stream
      val cand = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qc))
        .select(col("vec_id"),
          (expr("bit_count(lo ^ q_lo)") + expr("bit_count(hi ^ q_hi)"))
            .cast("long").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(30)
      val qe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      cand.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .crossJoin(broadcast(qe))
        .select(col("vec_id"), col("hamming"),
          round(VectorFunctions.cosineSim(col("q_embedding"), col("embedding")), 6)
            .as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }
  )
}

/** Inverted-file (IVF) approximate nearest neighbour index.
  *
  * Cells are the `label` classes (a deterministic stand-in for trained
  * k-means centroids — the plumbing is identical: centroid table, probe
  * selection, cell-restricted scan). At 100 TB the embeddings table
  * would be written partitioned/bucketed by cell id so a probe scans
  * only nprobe/cells of the files (partition pruning), which is the
  * entire point of IVF.
  *
  * Centroid averaging is FIXED-POINT: components are scaled to 1e-6
  * integers and summed as longs, so the per-cell sum is
  * order-independent (integer addition commutes — float addition does
  * not) and the centroid is bit-reproducible on any engine, partition
  * count, or reducer order. That makes the whole probe→scan→top-k
  * pipeline hash-checkable against the DuckDB oracle.
  */
final case class IvfIndex(nprobe: Int) {

  /** Per-cell centroid vectors: exact integer sum of 1e-6-scaled
    * components, divided once in double precision. */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("sv", expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
      .groupBy("label", "pos")
      .agg((sum(col("sv")).cast("double") /
        (lit(1000000.0) * count(lit(1)))).as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, s -> s.c)").as("centroid"))

  /** Cosine between a float-array column and a double-array column as a
    * strict left-to-right double fold (the same fold the oracle's
    * `list_reduce` performs, so probe selection is engine-portable). */
  private[operators] def mixedCosine(floatVec: String, doubleVec: String): Column =
    expr(s"""
      aggregate(zip_with($doubleVec, $floatVec, (c, x) -> c * CAST(x AS DOUBLE)),
                0D, (acc, v) -> acc + v)
      / (sqrt(aggregate(transform($doubleVec, c -> c * c), 0D, (acc, v) -> acc + v))
       * sqrt(aggregate(transform($floatVec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              0D, (acc, v) -> acc + v)))""")

  /** Top-k by cosine among vectors in the `nprobe` cells nearest to the
    * query vector. */
  def topK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val query = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val cents = centroids(emb)
    val probeCells = cents.crossJoin(broadcast(query))
      .select(col("label"),
        mixedCosine("q_embedding", "centroid").as("csim"))
      .orderBy(col("csim").desc, col("label"))
      .limit(nprobe)
      .select("label")
    emb.join(broadcast(probeCells), Seq("label"))
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        round(VectorFunctions.cosineSim(col("q_embedding"), col("embedding")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}

object IvfIndex {

  /** SQL twin of [[IvfIndex.centroids]]'s first stage: CTEs `sv`, `cc`
    * (per-(label, pos) fixed-point component means). ONE definition for
    * every oracle that replays the centroid build — q_ann_ivf,
    * q_semdedup, q_pq_encode, q_hard_negatives — so a change to the
    * dimension count or the 1e-6 scale cannot drift between them. */
  private[operators] val duckSvCcCtes =
    """sv AS (
      |  SELECT label, i AS pos,
      |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS s
      |  FROM embeddings, range(64) t(i)
      |), cc AS (
      |  SELECT label, pos, CAST(sum(s) AS DOUBLE) / (1000000.0 * count(*)) AS c
      |  FROM sv GROUP BY label, pos
      |)""".stripMargin

  /** [[duckSvCcCtes]] extended to the assembled `cents(cell, centroid)`
    * relation. */
  private[operators] val duckCentroidCtes =
    s"""$duckSvCcCtes, cents AS (
       |  SELECT label AS cell, list(c ORDER BY pos) AS centroid FROM cc GROUP BY label
       |)""".stripMargin

  /** SQL twin of [[IvfIndex.mixedCosine]]: cosine between a DOUBLE[]
    * centroid expression and a FLOAT[] embedding expression, as the
    * same strict left-to-right fold. */
  private[operators] def duckMixedCosineSql(cent: String, emb: String): String =
    s"""(list_reduce(list_transform($cent, (x, i) -> x * CAST($emb[i] AS DOUBLE)), (p, q) -> p + q)
       | / (sqrt(list_reduce(list_transform($cent, x -> x * x), (p, q) -> p + q))
       |  * sqrt(list_reduce(list_transform($emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))))""".stripMargin
}
