package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Duplicate-cluster assignment: connected components over the near-dup
  * pair graph (north star, SURVEY.md §2B dedup family).
  *
  * Pair generation (MinHash-LSH, [[Dedup.minhashPairs]]) emits EDGES; a
  * training-data pipeline needs CLUSTERS — "keep one doc per component,
  * drop the rest" — which requires the transitive closure (A~B, B~C ⇒
  * A,B,C in one cluster even if A,C never shared a bucket).
  *
  * Algorithm: iterative min-label propagation with pointer doubling.
  * Each node starts labeled with its own id; every round each node takes
  * the min of its own and its neighbours' labels, then jumps to its
  * label's label (label(x) ← label(label(x)) — the path-halving step,
  * sound because labels only ever point at smaller ids in the same
  * component). Neighbour propagation moves information one hop per
  * round; doubling moves it exponentially, so convergence is
  * O(log diameter) rounds — a million-node chain resolves in ~20 rounds
  * where plain propagation needs a million (same O(log n) regime as
  * large-star/small-star, Kiveris et al., "Connected Components in
  * MapReduce", with a simpler two-shuffle round). Near-dup graphs are
  * dense small blobs (diameter 2-4) that converge in ~3 rounds either
  * way; the doubling is what makes pathological chain shapes safe.
  *
  * `localCheckpoint` per round truncates the lineage — without it the
  * plan doubles every iteration and the job DAG, not the data, becomes
  * the scale bottleneck.
  */
object Clusters {

  /** Connected components of an undirected edge list (a, b).
    * Returns (node, cluster_id) with cluster_id = min node id of the
    * component. Only nodes appearing in ≥1 edge are labeled.
    *
    * Each round is ONE keyed shuffle: (neighbour labels ∪ own labels)
    * → groupBy(node).min. Convergence is detected by the exact sum of
    * all labels — labels are per-node monotonically non-increasing, so
    * the sum strictly decreases until fixpoint; comparing one scalar per
    * round replaces a join-based changed-row count (summed as
    * DECIMAL(38) so the test is overflow-proof at any node count).
    *
    * The sum rides the round's own materialization: `observe` attaches a
    * CollectMetrics node whose accumulator the eager `localCheckpoint`
    * job fills, so each round is ONE Spark job, not checkpoint + a
    * second scan-and-sum action ([[graft.ObserveCheckpointProbe]] guards
    * this Spark behavior). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // symmetrize once so "neighbours of n" is a single equi-join on src
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .transform(localCheckpoint)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(localCheckpoint)
    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    // checkpoint `df` and return (checkpointed df, exact label sum) from
    // the same job — the observation is filled by the checkpoint's
    // materialization, so no second action runs
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation(s"cc_label_sum_$iter")
      val ck = df
        .observe(obs, sum(col("label")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .transform(localCheckpoint)
      (ck, obs.get("s").asInstanceOf[java.math.BigDecimal])
    }
    while (!converged && iter < maxIter) {
      val propagated = sym
        .join(labels.select(col("node").as("b"), col("label").as("nl")), Seq("b"))
        .select(col("a").as("node"), col("nl").as("label"))
        .union(labels)
        .groupBy("node").agg(min(col("label")).as("label"))
      // Adaptive pointer doubling: dense dup blobs (diameter 2-4) finish
      // on propagation alone, so the first rounds skip the extra shuffle;
      // a graph still unconverged by round 6 has a long-path shape, and
      // from there each round also follows the label's own label
      // (label(x) ← label(label(x))), collapsing remaining distance
      // exponentially. Left join — a label always names a node in the
      // relation, but stay total.
      val (next, s) = if (iter < 6) checkpointWithSum(propagated)
      else {
        val base = propagated.transform(localCheckpoint)
        val lookup = base.select(col("node").as("label"), col("label").as("ll"))
        checkpointWithSum(base
          .join(lookup, Seq("label"), "left")
          .select(col("node"), coalesce(col("ll"), col("label")).as("label")))
      }
      converged = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    // A silent non-fixpoint would emit partially-propagated (wrong)
    // cluster ids; a component with diameter > maxIter must fail loudly.
    require(converged,
      s"connected components did not converge in $maxIter rounds; " +
        "raise maxIter (or switch to large-star/small-star for long-chain graphs)")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- near-dup clusters over the MinHash-LSH pair graph; oracle is
    //      a recursive-CTE transitive closure over the SAME pairs CTE
    //      that q_dedup_minhash_pairs hash-checks
    QueryDef.checked(
      "q_dedup_clusters",
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
         |), comp AS (
         |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM comp
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val pairs = Dedup.minhashPairs(Tables(spark, dir).documents)
      val comp = connectedComponents(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      comp
        .select(col("node").as("doc_id"), col("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy("doc_id")
    },

    // ---- dup-graph analytics: per-node degree and triangle membership
    //      over the SAME near-dup pair graph. Triangles are the densest
    //      evidence of a true duplicate cluster (three docs pairwise
    //      similar); the canonical a<b<c three-way self-join counts each
    //      triangle once and keys every shuffle on node/edge ids. At
    //      corpus scale the edge relation is duplicate-bounded (≪ docs),
    //      so the triple join is small even when the corpus is not.
    QueryDef.checked(
      "q_dup_graph_stats",
      s"""WITH RECURSIVE ${Dedup.duckPairsCtes},
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |), sym AS (
         |  SELECT a, b FROM edges UNION SELECT b, a FROM edges
         |), deg AS (
         |  SELECT a AS node, count(*) AS degree FROM sym GROUP BY a
         |), tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM edges e1
         |  JOIN edges e2 ON e2.a = e1.b
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
         |), tcnt AS (
         |  SELECT node, count(*) AS n_triangles FROM (
         |    SELECT x AS node FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY node
         |)
         |SELECT d.node AS doc_id, d.degree,
         |  coalesce(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
         |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // pairs emit with doc_a < doc_b, so the a<b<c join counts each
      // triangle exactly once
      val edges = Dedup.minhashPairs(Tables(spark, dir).documents)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .transform(localCheckpoint) // feeds sym, deg, and the triple self-join
      val sym = edges.union(edges.select(col("b"), col("a"))).distinct()
      val deg = sym.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("degree"))
      val tri = edges.as("e1")
        .join(edges.as("e2"), col("e2.a") === col("e1.b"))
        .join(edges.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tcnt = tri.select(col("x").as("node"))
        .union(tri.select(col("y")))
        .union(tri.select(col("z")))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      deg.join(tcnt, Seq("node"), "left")
        .select(col("node").as("doc_id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .orderBy("doc_id")
    },

    // ---- neighborhood Jaccard: supplier-pair similarity by shared
    //      customer sets over the lineitem⋈orders trade graph — the
    //      link-prediction / entity-merge signal (two suppliers serving
    //      the same customers are candidates for consolidation). The
    //      fact side reduces FIRST to distinct (supplier, customer)
    //      edges — bounded by the bipartite graph, not by fact rows —
    //      then pairs form by self-joining on the customer (each shared
    //      customer contributes one pair instance; the count IS the
    //      intersection size) and |union| = deg(a) + deg(b) − |∩|.
    //      Scale: the self-join shuffles on customer id and expands
    //      Σ_c deg(c)² pairs, so a celebrity customer is quadratic on
    //      ONE task — hub customers above degree 30 leave the graph
    //      BEFORE the self-join (the q_resource_allocation guard;
    //      degrees and Jaccard are then consistently those of the
    //      capped graph, and n_common ≤ min(deg) still holds).
    //      Measured candidate growth (Σd², capped): 0.35M at sf0.01 →
    //      2.3M at sf0.1, ~6.6× per 10× corpus vs 15× uncapped — the
    //      cap is what keeps the expansion sub-quadratic at 100 TB.
    QueryDef.checked(
      "q_graph_jaccard",
      """WITH e0 AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |), cdeg AS (
        |  SELECT c, count(*) AS dc FROM e0 GROUP BY c
        |), e AS (
        |  -- hub cap: customers with > 30 distinct suppliers are dropped
        |  -- before the quadratic self-join (mirrored in the engine)
        |  SELECT e0.s, e0.c FROM e0 JOIN cdeg ON cdeg.c = e0.c
        |  WHERE cdeg.dc <= 30
        |), deg AS (
        |  SELECT s, count(*) AS d FROM e GROUP BY s
        |), pairs AS (
        |  SELECT a.s AS supp_a, b.s AS supp_b, count(*) AS n_common
        |  FROM e a JOIN e b ON b.c = a.c AND a.s < b.s
        |  GROUP BY a.s, b.s
        |)
        |SELECT p.supp_a, p.supp_b, p.n_common,
        |  da.d + db.d - p.n_common AS n_union,
        |  round(CAST(p.n_common AS DOUBLE) / (da.d + db.d - p.n_common), 6)
        |    AS jaccard
        |FROM pairs p
        |JOIN deg da ON da.s = p.supp_a
        |JOIN deg db ON db.s = p.supp_b
        |ORDER BY p.supp_a, p.supp_b""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val e0 = graft.Tables.spread(
          t.lineitem.select(col("l_orderkey"), col("l_suppkey")))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
        .transform(localCheckpoint) // feeds the hub-degree cap and the capped graph
      // hub cap BEFORE the self-join: the d² expansion of a celebrity
      // customer never materializes (see oracle CTE `e`)
      val cdeg = e0.groupBy("c").agg(count(lit(1)).as("dc"))
      val e = e0.join(cdeg.filter(col("dc") <= 30), Seq("c"))
        .select("s", "c")
        .transform(localCheckpoint) // feeds degrees and both pair-join sides
      val deg = e.groupBy("s").agg(count(lit(1)).as("d"))
      // the pair join EXPANDS ~20× past its byte-sized inputs — an
      // explicit-count repartition on the join key keeps AQE from
      // coalescing the expansion onto one task (the [[graft.Tables
      // .spread]] rationale; the checkpointed edge relation is tiny,
      // so the extra exchange moves pre-expansion rows only)
      val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val pairs = e.select(col("s").as("supp_a"), col("c"))
        .repartition(nPart, col("c"))
        .join(e.select(col("s").as("supp_b"), col("c")), Seq("c"))
        .filter(col("supp_a") < col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(count(lit(1)).as("n_common"))
      pairs
        .join(broadcast(deg.select(col("s").as("supp_a"), col("d").as("da"))),
          Seq("supp_a"))
        .join(broadcast(deg.select(col("s").as("supp_b"), col("d").as("db"))),
          Seq("supp_b"))
        .select(col("supp_a"), col("supp_b"), col("n_common"),
          (col("da") + col("db") - col("n_common")).as("n_union"),
          round(col("n_common").cast("double") /
            (col("da") + col("db") - col("n_common")), 6).as("jaccard"))
        .orderBy("supp_a", "supp_b")
    }
  )
}
