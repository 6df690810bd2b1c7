package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables

/** Iterative graph computation done as dataflow: PageRank over the
  * supplier↔customer trade graph (who supplies whom, via
  * lineitem⋈orders), plus batch sessionization of the event log.
  *
  * PageRank is THE shape that separates an engine from a query runner:
  * each iteration is join(ranks, edges) → groupBy(dst).sum — shuffle on
  * the node id, nothing else. At 100 TB the edge relation is
  * pre-partitioned by src once ([[org.apache.spark.sql.Dataset.repartition]]
  * or bucketing) so every iteration's join is co-located and only the
  * rank vector (8+8 bytes per node) moves. Ranks are 1e-9 fixed-point
  * BIGINTs and the damping factor is the exact rational 17/20, so every
  * iteration is pure integer arithmetic — bit-identical on any engine,
  * partition count, or reduction order, which is what lets a 3-iteration
  * unrolled SQL oracle replay it.
  */
object GraphRank {

  /** Customer node-id offset into the shared supplier∪customer id
    * space. 2^40 — far above any TPC-H suppkey (SF·10,000; even SF 100k
    * stays < 2^30), where the previous 1e6 collided from SF 100 up.
    * ONE definition for both graph queries and both engines. */
  private val custOffset = 1L << 40

  /** The bipartite trade-graph CTE chain `pairs` → `edges` (undirected,
    * symmetric union), optionally restricted to high-volume lines —
    * shared by q_pagerank and q_graph_2hop so the edge build and the id
    * scheme cannot drift between them. */
  private def duckTradeEdges(filterSql: String): String =
    s"""pairs AS (
       |  SELECT DISTINCT l_suppkey AS s, o_custkey + $custOffset AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey$filterSql
       |), edges AS (
       |  SELECT s AS src, c AS dst FROM pairs
       |  UNION ALL
       |  SELECT c AS src, s AS dst FROM pairs
       |)""".stripMargin

  /** Spark twin of [[duckTradeEdges]]. `spread`/`pin` are per-consumer
    * flags (the simhash16 discipline — guide §1.2, measure per
    * consumer): the r15 spread+pin of this builder helped or was
    * neutral for consumers whose plans re-evaluate the pairs subtree
    * many times without their own checkpoint (pagerank, kcore,
    * seed_distance) but REGRESSED consumers that localCheckpoint the
    * edge union themselves (q_graph_2hop ×0.86, q_graph_assortativity
    * ×0.87 driver-measured at sf0.1): for those, the inner pin is a
    * second serial materialization barrier and the keyless spread an
    * extra fact-table exchange ahead of the join's own shuffle. */
  private def tradeEdges(t: graft.Tables,
      lineFilter: Option[org.apache.spark.sql.Column],
      spread: Boolean = true,
      pin: Boolean = true): org.apache.spark.sql.DataFrame = {
    // spread the fact scan before the probe+distinct partials: the
    // one-split lineitem scan would run every graph query's edge build
    // in a single task (Tables.spread contract — no-op once the scan
    // arrives in many splits)
    val li0 = lineFilter.foldLeft(
      t.lineitem.select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")))(
      _.filter(_))
    val li = if (spread) graft.Tables.spread(li0) else li0
    // pin BEFORE the two-direction union: Spark has no plan-level CSE,
    // so the un-pinned `pairs` subtree (fact join + distinct — the
    // expensive part of every graph query here) would be evaluated
    // once per union branch, and again per consumer that joins edges
    // with an aggregate of edges (deg/census) — 2-4 full evaluations
    // per query. One materialization, every consumer reads blocks.
    val pairs0 = li.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (col("o_custkey") + custOffset).as("c"))
      .distinct()
    val pairs = if (pin) pairs0.transform(localCheckpoint) else pairs0
    pairs.select(col("s").as("src"), col("c").as("dst"))
      .unionAll(pairs.select(col("c").as("src"), col("s").as("dst")))
  }

  private def duckIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT ed.dst AS node,
       |    CAST(150000000 + (sum($prev.pr // ed.deg) * 17) // 20 AS BIGINT) AS pr
       |  FROM ed JOIN $prev ON $prev.node = ed.src
       |  GROUP BY ed.dst
       |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- PageRank (3 iterations, d=0.85) over the undirected bipartite
    //      supplier↔customer graph; top-50 nodes. Customer node ids are
    //      offset by 2^40 to share one id space with suppliers.
    QueryDef.checked(
      "q_pagerank",
      s"""WITH ${duckTradeEdges("")},
         |deg AS (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src
         |), ed AS (
         |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
         |), r0 AS (
         |  SELECT DISTINCT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM edges
         |), ${duckIter("r0", "r1")},
         |${duckIter("r1", "r2")},
         |${duckIter("r2", "r3")}
         |SELECT node, node < $custOffset AS is_supplier,
         |  round(pr / 1000000000.0, 6) AS pagerank
         |FROM r3
         |ORDER BY pr DESC, node
         |LIMIT 50""".stripMargin) { (spark, dir) =>
      val edges = tradeEdges(Tables(spark, dir), None)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // (src, dst, deg(src)) drives every iteration — materialize once,
      // EXPLICITLY partitioned by src (the key every iteration joins
      // on); at scale this is the relation you bucket by src. The
      // explicit count keeps the iteration joins N-way — AQE sizes by
      // bytes and would serialize the kilobyte-scale rank joins.
      // (Deliberately NOT Tables.spread: ed sits above a join, and
      // spread's split-count probe would execute those stages eagerly.)
      val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val ed = edges.join(deg, Seq("src"))
        .repartition(shuffleN, col("src")).transform(localCheckpoint)
      // node set from the CHECKPOINTED relation — deriving it from
      // `edges` would re-run the whole lineitem⋈orders+distinct subtree
      var ranks = ed.select(col("src").as("node")).distinct()
        .withColumn("pr", lit(1000000000L))
      // Iterations chain lazily: each rank vector feeds exactly one
      // consumer (the next iteration), so 3 iterations fuse into ONE
      // job over the checkpointed edge relation. A 50-iteration
      // production run would localCheckpoint every ~5 iterations to
      // bound lineage depth and make the loop restartable.
      for (_ <- 1 to 3) {
        ranks = ed.join(ranks, col("node") === col("src"))
          .select(col("dst"), expr("pr div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(expr("CAST(150000000 + (sum(contrib) * 17) div 20 AS BIGINT)")
            .as("pr"))
          .select(col("dst").as("node"), col("pr"))
      }
      ranks
        .select(col("node"), (col("node") < custOffset).as("is_supplier"),
          round(col("pr") / lit(1000000000.0), 6).as("pagerank"),
          col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(50)
        .select("node", "is_supplier", "pagerank")
    },

    // ---- 2-hop reach (co-partner discovery): for each node of the
    //      SPARSE high-volume trade graph (only l_quantity ≥ 49 lines —
    //      "major" edges), how many distinct same-side nodes share a
    //      partner. The bipartite shape makes distance-2 automatically
    //      disjoint from distance-1 (2-hop targets are same-side,
    //      direct neighbors are other-side), so no anti join is needed.
    //      The edge self-join is the classic Σdeg² explosion — the
    //      query bounds it by EDGE SPARSIFICATION up front (the
    //      mitigation a 100 TB graph job applies first, before hub
    //      capping); both the join and the distinct shuffle on node id,
    //      the same key PageRank already partitions by.
    QueryDef.checked(
      "q_graph_2hop",
      s"""WITH ${duckTradeEdges("\n  WHERE l_quantity >= 49")},
        |hops AS (
        |  SELECT DISTINCT e1.src, e2.dst
        |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
        |  WHERE e2.dst <> e1.src
        |), deg AS (
        |  SELECT src, count(*) AS n_direct FROM edges GROUP BY src
        |)
        |SELECT h.src AS node, h.src < $custOffset AS is_supplier,
        |  CAST(g.n_direct AS BIGINT) AS n_direct, count(*) AS n_2hop
        |FROM hops h JOIN deg g ON g.src = h.src
        |GROUP BY h.src, g.n_direct
        |ORDER BY node""".stripMargin) { (spark, dir) =>
      // spread/pin OFF (r15 regression ×0.86 driver-measured): this
      // consumer checkpoints the union itself — the inner pin was a
      // second serial barrier, the spread an uncompensated exchange
      val edges = tradeEdges(Tables(spark, dir), Some(col("l_quantity") >= 49),
          spread = false, pin = false)
        .transform(localCheckpoint) // feeds both self-join sides + deg
      val hops = edges.select(col("src"), col("dst").as("mid"))
        .join(edges.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .filter(col("dst") =!= col("src"))
        .select("src", "dst").distinct()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("n_direct"))
      hops.join(deg, Seq("src"))
        .groupBy(col("src").as("node"), col("n_direct").cast("long").as("n_direct"))
        .agg(count(lit(1)).as("n_2hop"))
        .select(col("node"), (col("node") < custOffset).as("is_supplier"),
          col("n_direct"), col("n_2hop"))
        .orderBy("node")
    },

    // ---- k-core peeling (k = 3, 3 rounds) over the sparse high-volume
    //      trade graph: each round drops nodes of degree < k and keeps
    //      only edges with both endpoints surviving; the report is the
    //      per-round node/edge census. Each round is one degree
    //      aggregate + two semi joins, all shuffling on the node id the
    //      edge relation is already partitioned by — the same key
    //      PageRank iterates on, so a 100 TB run reuses one bucketing.
    //      (Full peeling runs to a fixpoint with the same convergence
    //      check as q_dedup_clusters; 3 unrolled rounds keep the DuckDB
    //      oracle expressible.)
    QueryDef.checked(
      "q_kcore_peel",
      s"""WITH ${duckTradeEdges("\n  WHERE l_quantity >= 49")},
        |d0 AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |k0 AS (SELECT src FROM d0 WHERE deg >= 3),
        |e1 AS (SELECT e.src, e.dst FROM edges e
        |       JOIN k0 a ON a.src = e.src JOIN k0 b ON b.src = e.dst),
        |d1 AS (SELECT src, count(*) AS deg FROM e1 GROUP BY src),
        |k1 AS (SELECT src FROM d1 WHERE deg >= 3),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       JOIN k1 a ON a.src = e.src JOIN k1 b ON b.src = e.dst),
        |d2 AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
        |k2 AS (SELECT src FROM d2 WHERE deg >= 3),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       JOIN k2 a ON a.src = e.src JOIN k2 b ON b.src = e.dst)
        |SELECT 0 AS round, count(DISTINCT src) AS n_nodes, count(*) AS n_dir_edges FROM edges
        |UNION ALL
        |SELECT 1, count(DISTINCT src), count(*) FROM e1
        |UNION ALL
        |SELECT 2, count(DISTINCT src), count(*) FROM e2
        |UNION ALL
        |SELECT 3, count(DISTINCT src), count(*) FROM e3
        |ORDER BY round""".stripMargin) { (spark, dir) =>
      // one materialization feeds all three peel rounds + the census
      var e = tradeEdges(Tables(spark, dir), Some(col("l_quantity") >= 49))
        .transform(localCheckpoint)
      def census(round: Int, ed: org.apache.spark.sql.DataFrame) =
        ed.agg(countDistinct(col("src")).as("n_nodes"),
          count(lit(1)).as("n_dir_edges"))
          .select(lit(round).as("round"), col("n_nodes"), col("n_dir_edges"))
      var out = census(0, e)
      for (r <- 1 to 3) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 3).select("src")
        e = e.join(keep, Seq("src"), "left_semi")
          .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst")
          .transform(localCheckpoint) // each round feeds the next round + census
        out = out.unionAll(census(r, e))
      }
      out.orderBy("round")
    },

    // ---- batch sessionization: 30-minute-gap sessions per user over
    //      the event log (lag → new-session flag → running sum), with
    //      per-session stats. The batch twin of q_stream_session: one
    //      shuffle on user_id serves both windows and the final groupBy.
    QueryDef.checked(
      "q_sessionize",
      """WITH flag AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, event_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_no
        |  FROM flag
        |)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  count(*) AS n_events,
        |  min(ts) AS session_start,
        |  CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS duration_us
        |FROM sess
        |GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(spark, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_no",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .cast("long").as("duration_us"))
        .orderBy("user_id", "session_no")
    },

    // ---- HITS hubs (2 unrolled iterations, unnormalized integer
    //      scores) on the DIRECTED supplier→customer trade relation:
    //      auth = Σ hub over in-edges, hub = Σ auth over out-edges,
    //      starting from hub ≡ 1 — so hub₂ is pure integer arithmetic,
    //      bit-identical under any partitioning (score bound ~deg³ ≪
    //      2⁶³ at any plausible SF; normalization is ONE double
    //      division by the 1-row max at the edge). Each half-iteration
    //      is a join + keyed sum on the node id, the PageRank shuffle
    //      key, reusing the same bucketing at scale.
    QueryDef.checked(
      "q_hits_hubs",
      s"""WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), auth1 AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS a FROM pairs GROUP BY c
        |), hub1 AS (
        |  SELECT p.s, CAST(sum(a.a) AS BIGINT) AS h
        |  FROM pairs p JOIN auth1 a ON a.c = p.c GROUP BY p.s
        |), auth2 AS (
        |  SELECT p.c, CAST(sum(h.h) AS BIGINT) AS a
        |  FROM pairs p JOIN hub1 h ON h.s = p.s GROUP BY p.c
        |), hub2 AS (
        |  SELECT p.s, CAST(sum(a.a) AS BIGINT) AS h
        |  FROM pairs p JOIN auth2 a ON a.c = p.c GROUP BY p.s
        |), mx AS (SELECT max(h) AS hmax FROM hub2)
        |SELECT s AS s_suppkey, h AS hub_score,
        |  round(CAST(h AS DOUBLE) / hmax, 6) AS hub_norm
        |FROM hub2, mx
        |ORDER BY h DESC, s
        |LIMIT 20""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
        .transform(localCheckpoint) // feeds all four half-iterations
      val auth1 = pairs.groupBy("c").agg(count(lit(1)).cast("long").as("a"))
      val hub1 = pairs.join(auth1, Seq("c"))
        .groupBy("s").agg(sum(col("a")).cast("long").as("h"))
      val auth2 = pairs.join(hub1, Seq("s"))
        .groupBy("c").agg(sum(col("h")).cast("long").as("a"))
      val hub2 = pairs.join(auth2, Seq("c"))
        .groupBy("s").agg(sum(col("a")).cast("long").as("h"))
      val mx = hub2.agg(max(col("h")).as("hmax"))
      hub2.crossJoin(broadcast(mx))
        .select(col("s").as("s_suppkey"), col("h").as("hub_score"),
          round(col("h").cast("double") / col("hmax"), 6).as("hub_norm"))
        .orderBy(col("hub_score").desc, col("s_suppkey"))
        .limit(20)
    },

    // ---- session path mining: the 10 most common session-opening
    //      paths (first ≤3 event types per 30-minute session, in
    //      order). Reuses the q_sessionize gaps-and-islands shape; the
    //      path string is built per session from ≤3 rows (bounded
    //      collect_list under an explicit in-array sort, so partition
    //      order cannot leak into the result), then one path-keyed
    //      count. All shuffles key on user_id or the path — no global
    //      window, top-10 is TakeOrderedAndProject.
    QueryDef.checked(
      "q_path_mining",
      """WITH flag AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_no
        |  FROM flag
        |), pos AS (
        |  SELECT user_id, session_no, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_no
        |                       ORDER BY ts, event_id) AS rn
        |  FROM sess
        |), paths AS (
        |  SELECT user_id, session_no,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM pos WHERE rn <= 3
        |  GROUP BY user_id, session_no
        |)
        |SELECT path, count(*) AS n_sessions
        |FROM paths
        |GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 10""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = Tables(spark, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_no",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val wS = Window.partitionBy("user_id", "session_no")
        .orderBy("ts", "event_id")
      sess.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 3)
        .groupBy("user_id", "session_no")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
          .as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    },

    // ---- modularity of the nation partition over the supplier↔customer
    //      trade graph: does trade respect nation boundaries? For each
    //      community c (= nationkey of the endpoint's entity),
    //      Q_c = e_in/m − (d_c/2m)²; Σ Q_c is Newman-Girvan modularity.
    //      This is the objective Louvain-style community detection
    //      optimizes — computing it is one edge-relation scan plus
    //      |communities|-sized aggregates: internal-edge counts and
    //      degree sums both shuffle on the community key only. The edge
    //      relation (distinct supplier–customer pairs) is the one
    //      fact-sized shuffle; everything after is bounded by |nations|.
    QueryDef.checked(
      "q_modularity",
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), e AS (
        |  SELECT sn.s_nationkey AS cs, cn.c_nationkey AS cc
        |  FROM pairs p
        |  JOIN supplier sn ON sn.s_suppkey = p.s
        |  JOIN customer cn ON cn.c_custkey = p.c
        |), m AS (
        |  SELECT count(*) AS m FROM e
        |), deg AS (
        |  SELECT comm, sum(d) AS d_c FROM (
        |    SELECT cs AS comm, count(*) AS d FROM e GROUP BY cs
        |    UNION ALL
        |    SELECT cc AS comm, count(*) AS d FROM e GROUP BY cc
        |  ) dd GROUP BY comm
        |), intra AS (
        |  SELECT cs AS comm, count(*) AS e_in FROM e WHERE cs = cc GROUP BY cs
        |)
        |SELECT d.comm AS community,
        |  CAST(COALESCE(i.e_in, 0) AS BIGINT) AS internal_edges,
        |  CAST(d.d_c AS BIGINT) AS degree_sum,
        |  round(CAST(COALESCE(i.e_in, 0) AS DOUBLE) / m.m
        |    - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
        |      * (CAST(d.d_c AS DOUBLE) / (2 * m.m)), 6) AS q_contrib
        |FROM deg d LEFT JOIN intra i ON i.comm = d.comm CROSS JOIN m
        |ORDER BY community""".stripMargin) { (spark, dir) =>
      val t = Tables(spark, dir)
      val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
      val e = pairs
        .join(broadcast(t.supplier.select(col("s_suppkey"),
          col("s_nationkey").as("cs"))), col("s_suppkey") === col("s"))
        .join(t.customer.select(col("c_custkey"),
          col("c_nationkey").as("cc")), col("c_custkey") === col("c"))
        .select("cs", "cc")
        .transform(localCheckpoint) // m, degrees, and intra counts of one build
      val m = e.agg(count(lit(1)).as("m"))
      val deg = e.select(col("cs").as("comm"))
        .unionAll(e.select(col("cc").as("comm")))
        .groupBy("comm").agg(count(lit(1)).as("d_c"))
      val intra = e.filter(col("cs") === col("cc"))
        .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("e_in"))
      deg.join(intra, Seq("comm"), "left")
        .crossJoin(broadcast(m))
        .select(col("comm").as("community"),
          coalesce(col("e_in"), lit(0)).cast("long").as("internal_edges"),
          col("d_c").cast("long").as("degree_sum"),
          round(coalesce(col("e_in"), lit(0)).cast("double") / col("m")
            - (col("d_c").cast("double") / (lit(2) * col("m")))
              * (col("d_c").cast("double") / (lit(2) * col("m"))), 6)
            .as("q_contrib"))
        .orderBy("community")
    },

    // ---- degree assortativity: do high-degree nodes trade with other
    //      high-degree nodes? Pearson correlation of (deg(src), deg(dst))
    //      over the symmetric directed edge list — one degree aggregate,
    //      two degree joins keyed on the edge endpoints, and a
    //      closed-form correlation from exact integer sums. Bipartite
    //      hub-and-spoke graphs are strongly DISassortative (hubs link
    //      to leaves), so r should be deeply negative here. Shares the
    //      2^40 customer-offset id scheme with q_pagerank.
    QueryDef.checked(
      "q_graph_assortativity",
      s"""WITH ${duckTradeEdges("")},
         |deg AS (
         |  SELECT src AS node, count(*) AS d FROM edges GROUP BY src
         |), de AS (
         |  SELECT da.d AS dx, db.d AS dy
         |  FROM edges e
         |  JOIN deg da ON da.node = e.src
         |  JOIN deg db ON db.node = e.dst
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
         |  round((count(*) * sum(CAST(dx AS DOUBLE) * dy)
         |      - sum(CAST(dx AS DOUBLE)) * sum(CAST(dy AS DOUBLE)))
         |    / (sqrt(count(*) * sum(CAST(dx AS DOUBLE) * dx)
         |        - sum(CAST(dx AS DOUBLE)) * sum(CAST(dx AS DOUBLE)))
         |     * sqrt(count(*) * sum(CAST(dy AS DOUBLE) * dy)
         |        - sum(CAST(dy AS DOUBLE)) * sum(CAST(dy AS DOUBLE)))), 6)
         |    AS assortativity
         |FROM de""".stripMargin) { (spark, dir) =>
      // spread/pin OFF (r15 regression ×0.87 driver-measured; same
      // shape as q_graph_2hop — the consumer checkpoints the union)
      val edges = tradeEdges(Tables(spark, dir), None,
          spread = false, pin = false)
        .transform(localCheckpoint) // degree build + both endpoint joins
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val de = edges
        .join(deg.select(col("node").as("src"), col("d").as("dx")), Seq("src"))
        .join(deg.select(col("node").as("dst"), col("d").as("dy")), Seq("dst"))
      de.agg(count(lit(1)).as("n"),
          sum(col("dx").cast("double") * col("dy")).as("sxy"),
          sum(col("dx").cast("double")).as("sx"),
          sum(col("dy").cast("double")).as("sy"),
          sum(col("dx").cast("double") * col("dx")).as("sxx"),
          sum(col("dy").cast("double") * col("dy")).as("syy"))
        .select(col("n").cast("long").as("n_directed_edges"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
             * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("assortativity"))
    },

    // ---- one Louvain move phase: for every node, the best community
    //      move among its NEIGHBORS' communities by modularity gain,
    //      starting from the nation partition q_modularity scores. The
    //      gain is held as the exact integer ΔQ·2m²
    //      ( = 2m·(k_i,B − k_i,A) − k_i·(d_B − d_A + k_i) ), so the
    //      per-node argmax can never float-tie and the phase is
    //      partitioning-proof. Everything is edge-relation aggregates:
    //      per-node degree, per-community degree totals (|nations|
    //      rows, broadcast), per-(node, neighbor-community) link counts
    //      — the same shuffle set Louvain needs at any scale; iterating
    //      swaps the community relation and reruns (q_kmeans_iter
    //      discipline). Output is the bounded (from, to) move matrix.
    QueryDef.checked(
      "q_louvain_move",
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), e0 AS (
        |  SELECT p.s AS u, p.c + 1099511627776 AS v,
        |    sn.s_nationkey AS cu, cn.c_nationkey AS cv
        |  FROM pairs p
        |  JOIN supplier sn ON sn.s_suppkey = p.s
        |  JOIN customer cn ON cn.c_custkey = p.c
        |), edges AS (
        |  SELECT u AS src, v AS dst, cu AS csrc, cv AS cdst FROM e0
        |  UNION ALL
        |  SELECT v, u, cv, cu FROM e0
        |), m2 AS (
        |  SELECT count(*) AS m2 FROM edges
        |), deg AS (
        |  SELECT src AS node, max(csrc) AS comm, count(*) AS k
        |  FROM edges GROUP BY src
        |), ctot AS (
        |  SELECT comm, sum(k) AS d_c FROM deg GROUP BY comm
        |), kin AS (
        |  SELECT src AS node, cdst AS comm, count(*) AS k_in
        |  FROM edges GROUP BY src, cdst
        |), own AS (
        |  SELECT d.node, d.comm, d.k, COALESCE(ki.k_in, 0) AS k_own
        |  FROM deg d LEFT JOIN kin ki
        |    ON ki.node = d.node AND ki.comm = d.comm
        |), cand AS (
        |  SELECT o.node, o.comm AS from_comm, ki.comm AS to_comm,
        |    m2.m2 * (ki.k_in - o.k_own)
        |      - o.k * (ct.d_c - cf.d_c + o.k) AS delta2m2
        |  FROM own o
        |  JOIN kin ki ON ki.node = o.node AND ki.comm != o.comm
        |  JOIN ctot ct ON ct.comm = ki.comm
        |  JOIN ctot cf ON cf.comm = o.comm
        |  CROSS JOIN m2
        |), best AS (
        |  SELECT node, from_comm, to_comm, delta2m2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY node
        |      ORDER BY delta2m2 DESC, to_comm) AS rn FROM cand) r
        |  WHERE rn = 1 AND delta2m2 > 0
        |)
        |SELECT from_comm, to_comm, CAST(count(*) AS BIGINT) AS n_movers,
        |  CAST(sum(delta2m2) AS BIGINT) AS sum_delta2m2
        |FROM best GROUP BY from_comm, to_comm
        |ORDER BY from_comm, to_comm""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
      val e0 = pairs
        .join(broadcast(t.supplier.select(col("s_suppkey"),
          col("s_nationkey").as("cu"))), col("s_suppkey") === col("s"))
        .join(t.customer.select(col("c_custkey"),
          col("c_nationkey").as("cv")), col("c_custkey") === col("c"))
        .select(col("s").as("u"), (col("c") + 1099511627776L).as("v"),
          col("cu"), col("cv"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"),
          col("cu").as("csrc"), col("cv").as("cdst"))
        .unionAll(e0.select(col("v").as("src"), col("u").as("dst"),
          col("cv").as("csrc"), col("cu").as("cdst")))
        .transform(localCheckpoint) // m2, deg, and kin all read the edge build
      val m2 = edges.agg(count(lit(1)).as("m2"))
      val deg = edges.groupBy(col("src").as("node"))
        .agg(max(col("csrc")).as("comm"), count(lit(1)).as("k"))
      val ctot = deg.groupBy("comm").agg(sum(col("k")).as("d_c"))
      val kin = edges.groupBy(col("src").as("node"), col("cdst").as("comm"))
        .agg(count(lit(1)).as("k_in"))
      val own = deg.join(kin.select(col("node"), col("comm"),
          col("k_in").as("k_own")), Seq("node", "comm"), "left")
        .na.fill(0L, Seq("k_own"))
      val cand = own.select(col("node"), col("comm").as("from_comm"),
          col("k"), col("k_own"))
        .join(kin.select(col("node"), col("comm").as("to_comm"),
          col("k_in")), Seq("node"))
        .filter(col("to_comm") =!= col("from_comm"))
        .join(broadcast(ctot.select(col("comm").as("to_comm"),
          col("d_c").as("d_to"))), Seq("to_comm"))
        .join(broadcast(ctot.select(col("comm").as("from_comm"),
          col("d_c").as("d_from"))), Seq("from_comm"))
        .crossJoin(broadcast(m2))
        .select(col("node"), col("from_comm"), col("to_comm"),
          (col("m2") * (col("k_in") - col("k_own"))
            - col("k") * (col("d_to") - col("d_from") + col("k")))
            .as("delta2m2"))
      cand
        .withColumn("rn", row_number().over(Window.partitionBy("node")
          .orderBy(col("delta2m2").desc, col("to_comm"))))
        .filter(col("rn") === 1 && col("delta2m2") > 0)
        .groupBy("from_comm", "to_comm")
        .agg(count(lit(1)).cast("long").as("n_movers"),
          sum(col("delta2m2")).cast("long").as("sum_delta2m2"))
        .orderBy("from_comm", "to_comm")
    },

    // ---- multi-source BFS (hop distance to the nearest seed, capped
    //      at 3): every 20th supplier seeds at distance 0; three
    //      min-relaxation rounds over the trade graph — each round is
    //      join(frontier, edges) → groupBy(node).min, the same
    //      one-keyed-shuffle-per-round shape as PageRank and connected
    //      components — then a per-distance census with id checksums.
    //      The "distance to known-bad node" primitive spam/abuse
    //      pipelines run over web graphs. The 3-cap makes the unrolled
    //      recursion finite on BOTH sides (the oracle's recursive CTE
    //      caps on d < 3), and the unreached mass is reported — a
    //      silent-truncation census, not a silent cap.
    QueryDef.checked(
      "q_seed_distance",
      s"""WITH RECURSIVE ${duckTradeEdges("")},
        |bfs AS (
        |  SELECT DISTINCT src AS node, 0 AS d FROM edges
        |  WHERE src % 20 = 0 AND src < $custOffset
        |  UNION
        |  SELECT e.dst AS node, b.d + 1 AS d
        |  FROM bfs b JOIN edges e ON e.src = b.node
        |  WHERE b.d < 3
        |), dist AS (
        |  SELECT node, min(d) AS d FROM bfs GROUP BY node
        |), nodes AS (
        |  SELECT DISTINCT src AS node FROM edges
        |), joined AS (
        |  SELECT n.node, coalesce(d.d, -1) AS d
        |  FROM nodes n LEFT JOIN dist d ON d.node = n.node
        |)
        |SELECT CAST(d AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(node) AS BIGINT) AS min_node,
        |  CAST(max(node) AS BIGINT) AS max_node,
        |  CAST(CAST(sum(node) AS BIGINT) AS VARCHAR) AS sum_nodes
        |FROM joined GROUP BY d ORDER BY dist""".stripMargin) { (spark, dir) =>
      val edges = tradeEdges(Tables(spark, dir), None)
        .transform(localCheckpoint) // reused by 3 relaxation rounds + the census
      val nodes = edges.select(col("src").as("node")).distinct()
      var dist = nodes
        .filter(col("node") % 20 === 0 && col("node") < custOffset)
        .select(col("node"), lit(0).as("d"))
        .transform(localCheckpoint)
      for (_ <- 1 to 3) {
        dist = dist
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("d") + 1).as("d"))
          .unionAll(dist)
          .groupBy("node").agg(min(col("d")).as("d"))
          .transform(localCheckpoint) // truncate the per-round lineage
      }
      nodes.join(dist, Seq("node"), "left")
        .select(col("node"), coalesce(col("d"), lit(-1)).as("d"))
        .groupBy("d")
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          min(col("node")).cast("long").as("min_node"),
          max(col("node")).cast("long").as("max_node"),
          // id checksum: 2^40-offset customer ids push the d=1 sum to
          // ~1.4e16 at sf0.1 — past the driver hash's 2^53-exact
          // domain, so it ships as a digit string (the r9 fleet rule)
          sum(col("node")).cast("long").cast("string").as("sum_nodes"))
        .select(col("d").cast("int").as("dist"), col("n_nodes"),
          col("min_node"), col("max_node"), col("sum_nodes"))
        .orderBy("dist")
    }
  )
}
