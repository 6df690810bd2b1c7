package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.Tables
import graft.sources.SnapshotLog

/** Round-7 additions, second wave: snapshot versioning. A commit log
  * over immutable parquet files ([[graft.sources.SnapshotLog]]) gives
  * time-travel reads and a log-derived change feed — the storage
  * generalization of the reference's backup-before-overwrite rule
  * (clone_databases.sh:203-217 keeps one pre-clone dump; a versioned
  * table keeps every state readable and diffable). Plus the
  * cluster-aware split: the leakage-safe train/val/test assignment
  * where a near-dup CLUSTER, not a document, is the unit of
  * randomization — the split discipline that keeps eval sets honest
  * when the corpus contains near-duplicates.
  */
object Wave8 {

  private val D1 = "1997-01-01"
  private val D2 = "1999-01-01"
  private val CapCents = 15000000L // v4 COW delete: status-O orders > $150k

  /** Build-once versioned table over `orders`: v1 initial load
    * (< D1), v2 append ([D1, D2)), v3 metadata-only delete of the F
    * partition, v4 copy-on-write delete inside the O partition. The
    * staging key folds in the source fingerprint (see
    * [[graft.util.Staging]]), so regenerated fixtures re-stage. */
  private[graft] def stagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snap_", s"$factPath|snap_v3")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      // clear any partial previous attempt before (re)building
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderdate"), col("o_orderstatus"))
      val ts1 = lit(D1).cast("timestamp")
      val ts2 = lit(D2).cast("timestamp")
      t.commitAppend(orders.filter(col("o_orderdate") < ts1), "o_orderstatus")
      t.commitAppend(orders.filter(
        col("o_orderdate") >= ts1 && col("o_orderdate") < ts2),
        "o_orderstatus")
      t.commitDeletePartition("o_orderstatus", "F")
      t.commitDeleteWhere("o_orderstatus", "O",
        col("price_cents") <= CapCents)
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table over `events` for the CDF stream:
    * v1/v2 append the even/odd event halves, v3 COW-deletes expensive
    * clicks (cents > 25000) — so the feed contains inserts from three
    * commits and deletes from one. */
  private[graft] def cdfStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/events.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapc_", s"$factPath|cdf_v3")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val events = spark.read.parquet(factPath).select(
        col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_id"), col("event_type"))
      t.commitAppend(
        events.filter(col("event_id") % 2 === 0).drop("event_id"),
        "event_type")
      t.commitAppend(
        events.filter(col("event_id") % 2 === 1).drop("event_id"),
        "event_type")
      t.commitDeleteWhere("event_type", "click", col("cents") <= 25000L)
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for zone-map skipping: four appends of
    * date-range batches (the natural time-ordered ingest), so each
    * commit's files span one narrow `o_date_days` range and a
    * range-selective read can skip whole commits from the manifest. */
  private[graft] def skipStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snaps_", s"$factPath|skip_v2")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
          .as("o_date_days"),
        col("o_orderstatus"))
      val cuts = Seq(Long.MinValue, days("1997-01-01"),
        days("1999-01-01"), days("2001-01-01"), Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(orders.filter(
          col("o_date_days") >= lo && col("o_date_days") < hi),
          "o_orderstatus")
      }
      fs.create(marker, true).close()
    }
    t
  }

  private[graft] def days(d: String): Long =
    java.time.LocalDate.parse(d).toEpochDay

  /** Shared oracle preamble: the logical content of every version,
    * recomputed from the fact table by predicate algebra. */
  private val duckBase =
    s"""base AS (
       |  SELECT o_orderstatus AS st,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    o_orderdate AS d
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$D2 00:00:00'
       |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- time travel: AS-OF reads over the snapshot log. Each version
    //      resolves to an exact file set from the (kilobyte) manifest —
    //      no directory listing, no scan of dead files; the v3 delete
    //      moved zero bytes (partition-aligned => metadata-only) and v4
    //      rewrote only the O-partition files (COW blast radius = files
    //      that can contain victims). The oracle recomputes each
    //      version's logical content from the fact table by predicate
    //      algebra — the hash match proves the log fold reconstructs
    //      every historical state exactly.
    QueryDef.checked(
      "q_time_travel",
      s"""WITH $duckBase, v AS (
         |  SELECT 1 AS version, * FROM base WHERE d < TIMESTAMP '$D1 00:00:00'
         |  UNION ALL SELECT 2, * FROM base
         |  UNION ALL SELECT 3, * FROM base WHERE st <> 'F'
         |  UNION ALL SELECT 4, * FROM base
         |    WHERE st <> 'F' AND NOT (st = 'O' AND cents > $CapCents)
         |)
         |SELECT version, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  count(DISTINCT st) AS n_statuses
         |FROM v GROUP BY version ORDER BY version""".stripMargin) {
      (spark, dir) =>
      val t = stagedTable(spark, dir)
      (1 to 4).map { v =>
        t.asOf(v).agg(
          count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          countDistinct(col("o_orderstatus")).as("n_statuses"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
            col("n_statuses"))
      }.reduce(_ union _).orderBy("version")
    },

    // ---- change data feed derived from the log alone: per commit, the
    //      rows arriving in `add` files and the rows leaving in
    //      `remove` files — ONE scan of all ever-live files tagged by
    //      input_file_name and joined to the broadcast (file -> added@,
    //      removed@) manifest map; no per-version rescan, no diff of
    //      materialized states. COW commits honestly surface as
    //      remove(old)+add(survivors) — net_delta is the row-level
    //      truth either way, which is exactly what an incremental
    //      consumer (e.g. q_ivm_delta_join's delta inputs) needs.
    QueryDef.checked(
      "q_change_feed",
      s"""WITH $duckBase, stats AS (
         |  SELECT
         |    count(*) FILTER (WHERE d < TIMESTAMP '$D1 00:00:00') AS c1,
         |    count(*) AS c2,
         |    count(*) FILTER (WHERE st = 'F') AS cf,
         |    count(*) FILTER (WHERE st = 'O') AS co,
         |    count(*) FILTER (WHERE st = 'O' AND cents <= $CapCents) AS ko
         |  FROM base
         |)
         |SELECT v.version,
         |  CAST(CASE v.version WHEN 1 THEN c1 WHEN 2 THEN c2 - c1
         |    WHEN 3 THEN 0 ELSE ko END AS BIGINT) AS n_added_rows,
         |  CAST(CASE v.version WHEN 3 THEN cf WHEN 4 THEN co
         |    ELSE 0 END AS BIGINT) AS n_removed_rows,
         |  CAST(CASE v.version WHEN 1 THEN c1 WHEN 2 THEN c2 - c1
         |    WHEN 3 THEN -cf ELSE ko - co END AS BIGINT) AS net_delta
         |FROM (VALUES (1), (2), (3), (4)) v(version) CROSS JOIN stats
         |ORDER BY v.version""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val t = stagedTable(spark, dir)
      val es = t.entries
      // key = the manifest-relative path (partition dir + leaf name):
      // a partitioned write reuses the SAME part-file name across its
      // partition directories, so the leaf name alone collides — the
      // partition segment disambiguates, and the v{n}- adoption prefix
      // separates commits
      val fileMap = es.groupBy(_.path).map { case (p, g) =>
        (p, g.find(_.action == "add").map(_.version).getOrElse(0),
          g.find(_.action == "remove").map(_.version))
      }.toSeq.toDF("relpath", "add_v", "rm_v")
      val everAdded = es.filter(_.action == "add")
        .map(e => s"${t.root}/data/${e.path}")
      val rows = spark.read.option("basePath", s"${t.root}/data")
        .parquet(everAdded: _*)
        .select(SnapshotLog.fileRel(input_file_name()).as("relpath"))
        .join(broadcast(fileMap), Seq("relpath"))
      val added = rows.groupBy(col("add_v").as("version"))
        .agg(count(lit(1)).as("n_added_rows"))
      val removed = rows.filter(col("rm_v").isNotNull)
        .groupBy(col("rm_v").as("version"))
        .agg(count(lit(1)).as("n_removed_rows"))
      val spine = (1 to 4).toDF("version")
      spine.join(added, Seq("version"), "left")
        .join(removed, Seq("version"), "left")
        .select(col("version"),
          coalesce(col("n_added_rows"), lit(0L)).as("n_added_rows"),
          coalesce(col("n_removed_rows"), lit(0L)).as("n_removed_rows"))
        .withColumn("net_delta",
          col("n_added_rows") - col("n_removed_rows"))
        .orderBy("version")
    },

    // ---- row-level MERGE (upsert) into the versioned table: the
    //      source batch updates every key it shares with the target
    //      (here: repriced orders) and inserts the rest — and only the
    //      files CONTAINING a matched key are rewritten (COW blast
    //      radius = files with hits; the hit set comes from one
    //      broadcast key-intersection scan). The oracle recomputes the
    //      post-merge state as (target ∖ source-keys) ⊎ source — the
    //      hash match proves file-granular COW implements exactly the
    //      row-level spec, and version 1 staying bit-identical proves
    //      the merge didn't bleed into history.
    QueryDef.checked(
      "q_snapshot_merge",
      s"""WITH v1 AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$D1 00:00:00'
         |), src AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CAST(round(o_totalprice * 100) AS BIGINT) + 7 AS cents
         |  FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$D2 00:00:00'
         |    AND o_orderkey % 5 = 0
         |), v2 AS (
         |  SELECT k, st, cents FROM v1
         |  WHERE k NOT IN (SELECT k FROM src)
         |  UNION ALL SELECT k, st, cents FROM src
         |)
         |SELECT 1 AS version, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  count(DISTINCT k) AS n_keys FROM v1
         |UNION ALL
         |SELECT 2, count(*), CAST(sum(cents) AS BIGINT),
         |  count(DISTINCT k) FROM v2
         |ORDER BY version""".stripMargin) { (spark, dir) =>
      val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
        .toAbsolutePath.toString
      val root = graft.util.Staging.dir("graft_snapm_", s"$factPath|merge_v3")
      val t = new SnapshotLog.Table(spark, root)
      val marker = new Path(s"$root/_BUILT")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        fs.delete(new Path(s"$root/data"), true)
        fs.delete(new Path(s"$root/log"), true)
        val orders = spark.read.parquet(factPath).select(
          col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
          col("o_orderdate"))
        t.commitAppend(
          orders.filter(col("o_orderdate") < lit(D1).cast("timestamp")),
          "o_orderstatus")
        val src = orders
          .filter(col("o_orderdate") < lit(D2).cast("timestamp") &&
            col("o_orderkey") % 5 === 0)
          .withColumn("price_cents", col("price_cents") + 7)
        t.commitMerge(src, "o_orderstatus", "o_orderkey")
        fs.create(marker, true).close()
      }
      (1 to 2).map { v =>
        t.asOf(v).agg(
          count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          countDistinct(col("o_orderkey")).as("n_keys"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
            col("n_keys"))
      }.reduce(_ union _).orderBy("version")
    },

    // ---- streaming change-data-feed SOURCE: a DataSource V2
    //      MicroBatchStream over the snapshot log whose offset IS the
    //      commit version ([[graft.sources.SnapshotCdfSource]]) —
    //      micro-batch (start, end] carries exactly commits
    //      start+1..end as row-level inserts/deletes (COW surfaces as
    //      delete+reinsert), planned from the kilobyte manifest with
    //      one InputPartition per changed file. The staged table
    //      commits two appends and one COW delete; the oracle
    //      recomputes the full feed by predicate algebra, so the hash
    //      convicts a missed commit, a double-delivered file, or a
    //      mistagged change type.
    QueryDef.checked(
      "q_stream_cdf_feed",
      """WITH base AS (
        |  SELECT event_type AS et,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), ins AS (
        |  SELECT cents FROM base
        |  UNION ALL
        |  SELECT cents FROM base WHERE et = 'click' AND cents <= 25000
        |), del AS (
        |  SELECT cents FROM base WHERE et = 'click'
        |)
        |SELECT 'delete' AS change, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents FROM del
        |UNION ALL
        |SELECT 'insert', count(*), CAST(sum(cents) AS BIGINT) FROM ins
        |ORDER BY change""".stripMargin) { (spark, dir) =>
      val t = cdfStagedTable(spark, dir)
      val feed = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "event_type")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .load()
        .groupBy(col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_cents"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdf_ckpt_").toString
      val q = feed.writeStream.format("memory")
        .queryName("graft_stream_cdf_feed")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val out = spark.table("graft_stream_cdf_feed")
        .orderBy("change").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      out
    },

    // ---- zone-map data skipping on the snapshot log: per-file
    //      min/max recorded from parquet FOOTERS at commit time (a
    //      metadata-only pass), and a range-selective AS-OF read that
    //      prunes whole files from the MANIFEST before any footer is
    //      opened. The table is four date-range appends — the natural
    //      time-ordered ingest — so the mid-1997..mid-1998 window
    //      survives only commit 2's files (spec-asserted); at 100 TB
    //      this is the difference between scanning one day's commits
    //      and listing the table. Correctness: the pruned read plus
    //      the row-level filter must hash-match the full-table filter
    //      the oracle computes — pruning may only skip files it can
    //      PROVE empty of matches.
    QueryDef.checked(
      "q_snapshot_skipping",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |  BETWEEN ${days("1997-06-01")} AND ${days("1998-06-01")}
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = skipStagedTable(spark, dir)
      val (lo, hi) = (days("1997-06-01"), days("1998-06-01"))
      // the filter prunes files at plan time and filters rows
      t.asOf(t.version)
        .filter(col("o_date_days").between(lo, hi))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- cluster-aware train/val/test split: the unit of
    //      randomization is the near-dup CLUSTER (connected component
    //      of the MinHash-LSH pair graph), not the document — two
    //      near-duplicates can never straddle train and test, the
    //      leakage mode a per-doc hash split cannot prevent. Split
    //      choice hashes the cluster representative (min doc id), so
    //      assignment is deterministic, reproducible, and stable under
    //      corpus growth for unchanged clusters. leak_edges audits the
    //      invariant end-to-end: it must be 0 BY CONSTRUCTION on both
    //      engines, so a nonzero value on either side means that
    //      engine's component computation is wrong.
    QueryDef.checked(
      "q_cluster_split",
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
         |  SELECT node, min(r) AS cid FROM reach GROUP BY node
         |), asg AS (
         |  SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cid
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
         |), sp AS (
         |  SELECT doc_id, cid,
         |    CASE WHEN h < 80 THEN 'train'
         |         WHEN h < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id, cid,
         |      CAST(concat('0x', substring(md5(CAST(cid AS VARCHAR)), 1, 15))
         |        AS BIGINT) % 100 AS h
         |    FROM asg)
         |), leak AS (
         |  SELECT coalesce(CAST(sum(
         |      CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(0 AS BIGINT)) AS leak_edges
         |  FROM pairs p
         |  JOIN sp sa ON sa.doc_id = p.doc_a
         |  JOIN sp sb ON sb.doc_id = p.doc_b
         |)
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters, leak_edges
         |FROM sp CROSS JOIN leak
         |GROUP BY split, leak_edges
         |ORDER BY split""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents.select("doc_id")
      val pairs = Dedup.minhashPairs(Tables(spark, dir).documents)
        .transform(localCheckpoint) // feeds both the components and the leak audit
      val comp = Clusters.connectedComponents(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      val sp = docs
        .join(comp, docs("doc_id") === comp("node"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        .withColumn("h", Dedup.md5h64(col("cid").cast("string")) % 100)
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "val")
            .otherwise("test"))
        .select("doc_id", "cid", "split")
        .transform(localCheckpoint) // feeds the rollup and both sides of the audit
      val leak = pairs
        .join(sp.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sp.as("sb"), col("doc_b") === col("sb.doc_id"))
        .agg(coalesce(sum(
          when(col("sa.split") =!= col("sb.split"), 1L).otherwise(0L)),
          lit(0L)).as("leak_edges"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cid")).as("n_clusters"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    }
  )
}
