package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.pipeline.{CloneConfig, ClonePipeline}

/** Clone-pipeline surface as driver-checkable queries (SURVEY.md §2A).
  * The full reference-semantics battery (skip-if-exists, backup gating,
  * failure accounting) lives in CloneSpec; these queries prove the
  * namespace-rewrite capability end-to-end inside the harness.
  */
object PipelineQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- the namespace rewrite itself (clone_databases.sh:222,786) as a
    //      checked query: target identifiers for every star table
    QueryDef.checked(
      "q_clone_namespace_plan",
      """SELECT t.name AS source_table,
        |  concat('preprod_', t.name) AS target_table,
        |  CASE WHEN t.name IN ('lineitem', 'orders') THEN 'fact' ELSE 'dimension' END AS kind
        |FROM (
        |  SELECT 'region' AS name UNION ALL SELECT 'nation' UNION ALL
        |  SELECT 'customer' UNION ALL SELECT 'supplier' UNION ALL
        |  SELECT 'part' UNION ALL SELECT 'orders' UNION ALL SELECT 'lineitem') t
        |ORDER BY source_table""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).starTables.toDF("source_table")
        .select(
          col("source_table"),
          concat(lit("preprod_"), col("source_table")).as("target_table"),
          when(col("source_table").isin("lineitem", "orders"), "fact")
            .otherwise("dimension").as("kind"))
        .orderBy("source_table")
    },

    // ---- a real clone run of the dimension tables into a temp target
    //      namespace, returning the verification report. The projected
    //      report (statuses, verified row counts, schema equality, run
    //      success) is deterministic, so the oracle reconstructs it from
    //      the SOURCE tables — a hash match proves the clone copied every
    //      row and the post-write verification agreed.
    QueryDef.checked(
      "q_clone_report",
      """SELECT * FROM (
        |  SELECT 'nation.parquet' AS "table", 'cloned' AS status,
        |    (SELECT count(*) FROM nation) AS "rows",
        |    TRUE AS "schemaMatches", TRUE AS run_success
        |  UNION ALL
        |  SELECT 'region.parquet', 'cloned',
        |    (SELECT count(*) FROM region), TRUE, TRUE
        |  UNION ALL
        |  SELECT 'supplier.parquet', 'cloned',
        |    (SELECT count(*) FROM supplier), TRUE, TRUE) r
        |ORDER BY "table"""".stripMargin) { (spark, dir) =>
      // deterministic per-SF target, overwritten each run (no temp buildup)
      val target = graft.util.Staging.dir("graft_clone_", dir)
      val cfg = CloneConfig(
        sourceDir = dir,
        targetDir = target,
        tables = Seq("region.parquet", "nation.parquet", "supplier.parquet"),
        prefix = "preprod_",
        overwrite = true)
      ClonePipeline(spark, cfg).report()
        .select(col("table"), col("status"), col("rows"),
          col("schemaMatches"), col("run_success"))
        .orderBy("table")
    },

    // ---- row-level clone-drift report: the verification a cloner runs
    //      when checksums DISAGREE — classify every key as added /
    //      removed / changed / unchanged between source and target
    //      (q_clone_checksum says "shard 17 differs"; this says which
    //      rows and how). The target here is a deterministic drift of
    //      orders built inside the query (keys %97 dropped, %89
    //      price-bumped, %101 re-keyed past max as inserts), so both
    //      engines diff identical relations. Scale: ONE full outer join
    //      shuffled on the key, fingerprint comparison inside the join
    //      projection, |classes| rows out; the max-key bound is a 1-row
    //      broadcast. At 100 TB this runs per-shard under the Merkle
    //      tree's failing branch, never corpus-wide.
    QueryDef.checked(
      "q_table_diff",
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS st
        |  FROM orders
        |), tgt AS (
        |  SELECT k, CASE WHEN k % 89 = 0 THEN cents + 1 ELSE cents END AS cents, st
        |  FROM src WHERE k % 97 <> 0
        |  UNION ALL
        |  SELECT k + mk AS k, cents, st FROM src, mx WHERE k % 101 = 0
        |), d AS (
        |  SELECT coalesce(s.k, t.k) AS k,
        |    CASE WHEN t.k IS NULL THEN 'removed'
        |         WHEN s.k IS NULL THEN 'added'
        |         WHEN s.cents <> t.cents OR s.st <> t.st THEN 'changed'
        |         ELSE 'unchanged' END AS class
        |  FROM src s FULL OUTER JOIN tgt t ON t.k = s.k
        |)
        |SELECT class, count(*) AS n,
        |  CAST(sum(k % 1000003) AS BIGINT) AS key_checksum
        |FROM d GROUP BY class
        |ORDER BY class""".stripMargin) { (spark, dir) =>
      val src = Tables(spark, dir).orders
        .select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("st"))
        .transform(localCheckpoint) // feeds tgt construction AND the diff's source side
      val mx = src.agg(max(col("k")).as("mk"))
      val tgt = src.filter(col("k") % 97 =!= 0)
        .select(col("k"),
          when(col("k") % 89 === 0, col("cents") + 1).otherwise(col("cents"))
            .as("cents"), col("st"))
        .unionAll(src.filter(col("k") % 101 === 0).crossJoin(broadcast(mx))
          .select((col("k") + col("mk")).as("k"), col("cents"), col("st")))
      val s = src.select(col("k").as("sk"), col("cents").as("s_cents"),
        col("st").as("s_st"))
      val t = tgt.select(col("k").as("tk"), col("cents").as("t_cents"),
        col("st").as("t_st"))
      s.join(t, col("tk") === col("sk"), "full_outer")
        .select(coalesce(col("sk"), col("tk")).as("k"),
          when(col("tk").isNull, "removed")
            .when(col("sk").isNull, "added")
            .when(col("s_cents") =!= col("t_cents") ||
              col("s_st") =!= col("t_st"), "changed")
            .otherwise("unchanged").as("class"))
        .groupBy("class")
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(k % 1000003) AS BIGINT)").as("key_checksum"))
        .orderBy("class")
    },

    // ---- three-way merge: base + two divergent clones → merged rows +
    //      conflict classes, the reconciliation step after bidirectional
    //      clone drift (q_table_diff classifies ONE divergent copy; this
    //      reconciles TWO against their common ancestor, the git-merge
    //      shape for tables). Both clones are deterministic mutation
    //      sets over orders (disjoint-prime deletes and updates, plus
    //      one IDENTICAL update in both — the convergent case). Per-key
    //      classes: unchanged, ours/theirs update, ours/theirs/both
    //      deleted, convergent update (same change on both sides — no
    //      conflict), update-update and update-delete conflicts (no
    //      merged row; surfaced for a human). cents_checksum pins the
    //      merged VALUES per class, not just the counts. Scale: two
    //      co-partitioned left joins on the key — clone reconciliation
    //      at 100 TB is exactly these joins over the real twins.
    QueryDef.checked(
      "q_three_way_merge",
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS st
        |  FROM orders
        |), ours AS (
        |  SELECT k, CASE WHEN k % 11 = 0 THEN cents + 2 ELSE cents END AS cents,
        |    CASE WHEN k % 13 = 0 THEN 'X' ELSE st END AS st
        |  FROM base WHERE k % 31 <> 0
        |), theirs AS (
        |  SELECT k, CASE WHEN k % 17 = 0 THEN cents + 3 ELSE cents END AS cents,
        |    CASE WHEN k % 13 = 0 THEN 'X' ELSE st END AS st
        |  FROM base WHERE k % 37 <> 0
        |), j AS (
        |  SELECT b.k, b.cents AS bc, b.st AS bs,
        |    o.k IS NOT NULL AS po, t.k IS NOT NULL AS pt,
        |    o.cents AS oc, o.st AS os, t.cents AS tc, t.st AS ts
        |  FROM base b
        |  LEFT JOIN ours o ON o.k = b.k
        |  LEFT JOIN theirs t ON t.k = b.k
        |), e AS (
        |  SELECT k, po, pt, bc, oc, tc,
        |    (oc = bc AND os = bs) AS eo,
        |    (tc = bc AND ts = bs) AS et,
        |    (oc = tc AND os = ts) AS eot
        |  FROM j
        |), c AS (
        |  SELECT k,
        |    CASE
        |      WHEN NOT po AND NOT pt THEN 'both_deleted'
        |      WHEN NOT po AND et THEN 'ours_deleted'
        |      WHEN NOT po THEN 'conflict_delete_update'
        |      WHEN NOT pt AND eo THEN 'theirs_deleted'
        |      WHEN NOT pt THEN 'conflict_update_delete'
        |      WHEN eo AND et THEN 'unchanged'
        |      WHEN NOT eo AND et THEN 'ours_update'
        |      WHEN eo AND NOT et THEN 'theirs_update'
        |      WHEN eot THEN 'convergent_update'
        |      ELSE 'conflict_update_update' END AS class,
        |    CASE
        |      WHEN NOT po OR NOT pt THEN NULL
        |      WHEN NOT eo AND NOT et AND NOT eot THEN NULL
        |      WHEN NOT eo THEN oc
        |      WHEN NOT et THEN tc
        |      ELSE bc END AS m
        |  FROM e
        |)
        |SELECT class, count(*) AS n,
        |  coalesce(CAST(sum(m) AS BIGINT), 0) AS cents_checksum
        |FROM c GROUP BY class ORDER BY class""".stripMargin) { (spark, dir) =>
      val base = Tables(spark, dir).orders
        .select(col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("st"))
        .transform(localCheckpoint) // feeds base AND both clone constructions
      val ours = base.filter(col("k") % 31 =!= 0)
        .select(col("k").as("ok"),
          when(col("k") % 11 === 0, col("cents") + 2).otherwise(col("cents"))
            .as("oc"),
          when(col("k") % 13 === 0, lit("X")).otherwise(col("st")).as("os"))
      val theirs = base.filter(col("k") % 37 =!= 0)
        .select(col("k").as("tk"),
          when(col("k") % 17 === 0, col("cents") + 3).otherwise(col("cents"))
            .as("tc"),
          when(col("k") % 13 === 0, lit("X")).otherwise(col("st")).as("ts"))
      val j = base
        .join(ours, col("ok") === col("k"), "left")
        .join(theirs, col("tk") === col("k"), "left")
      val po = col("ok").isNotNull
      val pt = col("tk").isNotNull
      val eo = col("oc") === col("cents") && col("os") === col("st")
      val et = col("tc") === col("cents") && col("ts") === col("st")
      val eot = col("oc") === col("tc") && col("os") === col("ts")
      j.select(
          when(!po && !pt, "both_deleted")
            .when(!po && et, "ours_deleted")
            .when(!po, "conflict_delete_update")
            .when(!pt && eo, "theirs_deleted")
            .when(!pt, "conflict_update_delete")
            .when(eo && et, "unchanged")
            .when(!eo && et, "ours_update")
            .when(eo && !et, "theirs_update")
            .when(eot, "convergent_update")
            .otherwise("conflict_update_update").as("class"),
          when(!po || !pt, lit(null))
            .when(!eo && !et && !eot, lit(null))
            .when(!eo, col("oc"))
            .when(!et, col("tc"))
            .otherwise(col("cents")).as("m"))
        .groupBy("class")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("m")).cast("long"), lit(0L)).as("cents_checksum"))
        .orderBy("class")
    },

    // ---- incremental-aggregate maintenance law, as a checked query:
    //      base aggregate (keys ≤ the 80% cut) merged with the delta
    //      batch's aggregate must EQUAL the full recompute — the
    //      merge-≡-recompute invariant every incremental ETL target
    //      (foreachBatch MERGE INTO, IVM) relies on. Output carries the
    //      merged values plus the per-group equality verdict, so a
    //      violation is visible in the row, not just a test. Scale: the
    //      delta aggregate scans ONLY the delta; merging is a
    //      |groups|-sized outer join; the recompute here is the audit's
    //      cost, not the maintenance path's.
    QueryDef.checked(
      "q_incremental_agg_merge",
      """WITH cut AS (SELECT max(o_orderkey) * 4 // 5 AS c FROM orders),
        |base AS (
        |  SELECT o_orderpriority AS p, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM orders, cut WHERE o_orderkey <= cut.c GROUP BY o_orderpriority
        |), delta AS (
        |  SELECT o_orderpriority AS p, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM orders, cut WHERE o_orderkey > cut.c GROUP BY o_orderpriority
        |), merged AS (
        |  SELECT coalesce(b.p, d.p) AS p,
        |    coalesce(b.n, 0) + coalesce(d.n, 0) AS n,
        |    coalesce(b.s, 0) + coalesce(d.s, 0) AS s
        |  FROM base b FULL OUTER JOIN delta d ON d.p = b.p
        |), full_agg AS (
        |  SELECT o_orderpriority AS p, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM orders GROUP BY o_orderpriority
        |)
        |SELECT m.p AS priority, CAST(m.n AS BIGINT) AS n_orders,
        |  CAST(m.s AS BIGINT) AS sum_cents,
        |  m.n = f.n AND m.s = f.s AS matches_recompute
        |FROM merged m JOIN full_agg f ON f.p = m.p
        |ORDER BY priority""".stripMargin) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
        .select(col("o_orderpriority").as("p"),
          col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cut = orders.agg(expr("max(k) * 4 div 5").as("c"))
      val withCut = orders.crossJoin(broadcast(cut))
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("p")
        .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("s"))
      val base = agg(withCut.filter(col("k") <= col("c")))
        .select(col("p").as("bp"), col("n").as("bn"), col("s").as("bs"))
      val delta = agg(withCut.filter(col("k") > col("c")))
        .select(col("p").as("dp"), col("n").as("dn"), col("s").as("ds"))
      val merged = base.join(delta, col("dp") === col("bp"), "full_outer")
        .select(coalesce(col("bp"), col("dp")).as("p"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
      val full = agg(orders)
        .select(col("p").as("fp"), col("n").as("fn"), col("s").as("fs"))
      merged.join(full, col("fp") === col("p"))
        .select(col("p").as("priority"), col("n").as("n_orders"),
          col("s").as("sum_cents"),
          (col("n") === col("fn") && col("s") === col("fs"))
            .as("matches_recompute"))
        .orderBy("priority")
    },

    // ---- retraction-aware incremental view maintenance: the delta is a
    //      CDC batch with DELETES (keys ≡ 0 mod 97) and UPDATES (keys ≡
    //      0 mod 101, re-priced +10%), encoded as SIGNED rows — an
    //      update is retract(old) + insert(new). The maintained
    //      aggregate is base + Σ sign·x per group; count and sum are
    //      self-retractable so no per-key state is needed (min/max would
    //      need one — that asymmetry is the point of the signed-delta
    //      algebra). The recompute twin applies the same CDC to the
    //      fact table and re-aggregates; the row carries the equality
    //      verdict. Scale: maintenance cost is |delta| + a
    //      |groups|-sized join; the recompute is the audit, not the
    //      serving path.
    QueryDef.checked(
      "q_retractable_agg",
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), base AS (
        |  SELECT p, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM o GROUP BY p
        |), cdc AS (
        |  SELECT p, -1 AS sign, cents FROM o WHERE k % 97 = 0
        |  UNION ALL
        |  SELECT p, -1, cents FROM o WHERE k % 101 = 0 AND k % 97 <> 0
        |  UNION ALL
        |  SELECT p, 1, cents + cents // 10 FROM o
        |    WHERE k % 101 = 0 AND k % 97 <> 0
        |), delta AS (
        |  SELECT p, CAST(sum(sign) AS BIGINT) AS dn,
        |    CAST(sum(sign * cents) AS BIGINT) AS ds
        |  FROM cdc GROUP BY p
        |), merged AS (
        |  SELECT b.p, b.n + coalesce(d.dn, 0) AS n, b.s + coalesce(d.ds, 0) AS s
        |  FROM base b LEFT JOIN delta d ON d.p = b.p
        |), applied AS (
        |  SELECT p, CASE WHEN k % 101 = 0 THEN cents + cents // 10
        |              ELSE cents END AS cents
        |  FROM o WHERE k % 97 <> 0
        |), recomputed AS (
        |  SELECT p, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM applied GROUP BY p
        |)
        |SELECT m.p AS priority, CAST(m.n AS BIGINT) AS n_rows,
        |  CAST(m.s AS BIGINT) AS sum_cents,
        |  m.n = r.n AND m.s = r.s AS matches_recompute
        |FROM merged m JOIN recomputed r ON r.p = m.p
        |ORDER BY priority""".stripMargin) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .transform(localCheckpoint) // base, cdc, and recompute all read it
      val base = o.groupBy("p")
        .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("s"))
      val del = o.filter(col("k") % 97 === 0)
        .select(col("p"), lit(-1L).as("sign"), col("cents"))
      val updOld = o.filter(col("k") % 101 === 0 && col("k") % 97 =!= 0)
        .select(col("p"), lit(-1L).as("sign"), col("cents"))
      val updNew = o.filter(col("k") % 101 === 0 && col("k") % 97 =!= 0)
        .select(col("p"), lit(1L).as("sign"),
          (col("cents") + expr("cents div 10")).as("cents"))
      val delta = del.union(updOld).union(updNew).groupBy("p")
        .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("cents")).as("ds"))
        .select(col("p").as("dp"), col("dn"), col("ds"))
      val merged = base.join(delta, col("dp") === col("p"), "left")
        .select(col("p"), (col("n") + coalesce(col("dn"), lit(0L))).as("n"),
          (col("s") + coalesce(col("ds"), lit(0L))).as("s"))
      val recomputed = o.filter(col("k") % 97 =!= 0)
        .select(col("p"), when(col("k") % 101 === 0,
          col("cents") + expr("cents div 10")).otherwise(col("cents"))
          .as("cents"))
        .groupBy("p")
        .agg(count(lit(1)).as("rn"), sum(col("cents")).cast("long").as("rs"))
        .select(col("p").as("rp"), col("rn"), col("rs"))
      merged.join(recomputed, col("rp") === col("p"))
        .select(col("p").as("priority"), col("n").cast("long").as("n_rows"),
          col("s").as("sum_cents"),
          (col("n") === col("rn") && col("s") === col("rs"))
            .as("matches_recompute"))
        .orderBy("priority")
    },

    // ---- the document-store clone wire (clone_databases.sh:784-825:
    //      mongodump | mongorestore --nsFrom "db.*" --nsTo "prefix.*"),
    //      end-to-end through a NON-PATH custom DSv2 connector: two
    //      collections are seeded into the fake store, ClonePipeline
    //      reads them through `option("collection", …)` addressing (its
    //      connector-source branch — the same code path a live Mongo
    //      connector would take), rewrites the namespace with the
    //      prefix, writes parquet, and verifies schema + counts. The
    //      output re-reads the CLONED namespaces and aggregates parsed
    //      document fields, so a hash match proves every document — not
    //      just row counts — survived store → connector → clone.
    //      Scale: the connector plans one partition per store part
    //      (read parallelism = writer parallelism), prunes columns at
    //      the reader, and the clone itself is the distributed
    //      scan→write; nothing moves through the driver.
    QueryDef.checked(
      "q_clone_docstore",
      """WITH stats AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'docs_even'
        |              ELSE 'docs_odd' END AS collection,
        |    count(*) AS n_docs,
        |    count(DISTINCT doc_id) AS distinct_ids,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |    count(DISTINCT source) AS n_sources
        |  FROM documents GROUP BY 1
        |)
        |SELECT collection, concat('preprod_', collection) AS target,
        |  'cloned' AS status, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(distinct_ids AS BIGINT) AS distinct_ids, sum_chars,
        |  CAST(n_sources AS BIGINT) AS n_sources
        |FROM stats ORDER BY collection""".stripMargin) { (spark, dir) =>
      import graft.sources.DocStoreSource
      val docs = Tables(spark, dir).documents
      val store = graft.util.Staging.dir("graft_docstore_", dir)
      // seed: one JSON document per row; doc bodies carry the fields
      // the post-clone aggregate parses back out
      def seed(name: String, even: Boolean): Unit =
        DocStoreSource.seedCollection(
          docs.filter(col("doc_id") % 2 === (if (even) 0 else 1))
            .select(to_json(struct(
              concat(lit("D"), col("doc_id")).as("_id"),
              col("source").as("source"),
              length(col("text")).as("nc"))).as("value")),
          store, name)
      seed("docs_even", even = true)
      seed("docs_odd", even = false)

      val target = graft.util.Staging.dir("graft_docstore_tgt_", dir)
      val cfg = CloneConfig(
        sourceDir = store, targetDir = target,
        tables = Seq("docs_even", "docs_odd"),
        prefix = "preprod_", overwrite = true,
        sourceFormat = DocStoreSource.FORMAT,
        sourceOptions = Map("path" -> store),
        tableOptionKey = "collection")
      val report = ClonePipeline(spark, cfg).report()
        .select(col("table").as("collection"), col("status"))

      // read back THROUGH THE CLONED NAMESPACE and parse the documents
      val cloned = spark.read.parquet(s"$target/preprod_docs_even")
        .withColumn("collection", lit("docs_even"))
        .unionByName(spark.read.parquet(s"$target/preprod_docs_odd")
          .withColumn("collection", lit("docs_odd")))
      cloned
        .select(col("collection"), col("_id"),
          get_json_object(col("doc"), "$.source").as("source"),
          get_json_object(col("doc"), "$.nc").cast("long").as("nc"))
        .groupBy("collection")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("_id")).as("distinct_ids"),
          sum(col("nc")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .join(report, Seq("collection"))
        .select(col("collection"),
          concat(lit("preprod_"), col("collection")).as("target"),
          col("status"), col("n_docs"), col("distinct_ids"),
          col("sum_chars"), col("n_sources"))
        .orderBy("collection")
    },

    // ---- NAMESPACE-LEVEL transactional clone (round 13): the
    //      reference's unit of work is the whole DATABASE
    //      (clone_databases.sh:1029-1084 — `main` loops DBs and
    //      accounts success per DB, not per table); cloneNamespace is
    //      that transaction over the zero-copy table clone: N member
    //      tables publish under ONE marker flip, and a failed member
    //      unwinds every published one. The query clones a 2-member
    //      namespace and hashes the members' contents against the raw
    //      sources; the in-query requires pin the ATOMICITY: a clone
    //      with a deliberately failing member must leave NO member
    //      directories, no marker, and nothing visible.
    QueryDef.checked(
      "q_clone_namespace_txn",
      """SELECT 'nat' AS member, CAST(n_nationkey AS BIGINT) AS k,
        |  CAST(n_regionkey AS VARCHAR) AS part, n_name AS name
        |FROM nation
        |UNION ALL
        |SELECT 'sup', CAST(s_suppkey AS BIGINT),
        |  CAST(s_nationkey % 5 AS VARCHAR), s_name
        |FROM supplier
        |ORDER BY member, k""".stripMargin) { (spark, dir) =>
      import graft.sources.SnapshotLog
      def stage(prefix: String, df: org.apache.spark.sql.DataFrame)
          : SnapshotLog.Table = {
        val root = java.nio.file.Files
          .createTempDirectory(prefix).toString
        val t = new SnapshotLog.Table(spark, root)
        t.commitAppend(df, "part")
        t
      }
      val nat = stage("graft_nstxn_nat_",
        spark.read.parquet(s"$dir/nation.parquet").select(
          col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("string").as("part"),
          col("n_name").as("name")))
      val sup = stage("graft_nstxn_sup_",
        spark.read.parquet(s"$dir/supplier.parquet").select(
          col("s_suppkey").cast("long").as("k"),
          (col("s_nationkey") % 5).cast("string").as("part"),
          col("s_name").as("name")))
      // ATOMICITY require #1: a namespace with a failing member (an
      // EMPTY source table cannot clone) unwinds everything
      val emptyRoot = java.nio.file.Files
        .createTempDirectory("graft_nstxn_empty_").toString
      val empty = new SnapshotLog.Table(spark, emptyRoot)
      val badNs = java.nio.file.Files
        .createTempDirectory("graft_nstxn_bad_").toString
      val failed =
        try {
          SnapshotLog.cloneNamespace(spark, badNs, Seq(
            ("nat", nat, nat.version), ("dead", empty, 1)))
          false
        } catch { case _: Exception => true }
      require(failed, "the failing member must fail the namespace")
      require(SnapshotLog.namespaceCloneMembers(spark, badNs).isEmpty,
        "a failed namespace clone must be invisible")
      require(!new java.io.File(badNs, "nat").exists(),
        "a failed namespace clone must unwind published members")
      // the real clone: both members under one marker
      val nsRoot = java.nio.file.Files
        .createTempDirectory("graft_nstxn_ns_").toString
      SnapshotLog.cloneNamespace(spark, nsRoot, Seq(
        ("nat", nat, nat.version), ("sup", sup, sup.version)))
      val committed = SnapshotLog.namespaceCloneMembers(spark, nsRoot)
      require(committed.map(_.name).sorted == Seq("nat", "sup"),
        s"marker must list the members: $committed")
      // read the MEMBERS' contents (not the sources) — the hash check
      // is on what the clone serves
      val read = committed.map { m =>
        new SnapshotLog.Table(spark, s"$nsRoot/${m.name}")
          .asOf(1).select(lit(m.name).as("member"),
            col("k"), col("part"), col("name"))
      }
      read.reduce(_ unionByName _).orderBy("member", "k")
    }
  )
}
