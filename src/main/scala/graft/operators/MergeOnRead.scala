package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.sources.SnapshotLog

/** Round-9 storage wave: merge-on-read deletion vectors and full CDC
  * merge semantics over the snapshot log.
  *
  * Round 8 made every row-level write COPY-ON-WRITE: a delete or merge
  * rewrites each file that contains a victim. That is the right shape
  * for bulk changes, and the wrong one for the other production delete
  * pattern — a steady trickle of small, targeted deletes (GDPR erasure
  * queues, label corrections) against a 100 TB table, where rewriting
  * a 1 GB file to drop 3 rows per request multiplies write
  * amplification by ~10⁸. The production answer (Delta deletion
  * vectors, Iceberg position deletes) is MERGE-ON-READ:
  *
  *  - [[SnapshotLog.Table.commitDeleteKeysMor]] records victims' row
  *    POSITIONS (`_metadata.row_index` — stable in an immutable file)
  *    in per-file sidecars; the commit costs O(victim rows), zero data
  *    bytes move;
  *  - [[SnapshotLog.Table.asOfMor]] applies them as a (file, pos)
  *    anti-join against the delta-scale DV relation at read time;
  *  - [[SnapshotLog.Table.commitMaterializeDv]] amortizes: ONLY the
  *    DV-carrying files are rewritten, the DVs retire, and read-side
  *    overhead returns to zero.
  *
  * The CDC half: [[SnapshotLog.Table.commitApplyChanges]] is the full
  * tri-clause MERGE INTO (matched-update / matched-delete /
  * not-matched-insert) that upsert-only commitMerge cannot express —
  * the batch landing of an OLTP change stream, with the same zone-map
  * + bloom candidate pruning and file-granular COW blast radius.
  *
  * Reference anchor: clone_databases.sh:220-253 clones by full dump —
  * its only "delete" is DROP-and-recreate. These operators are the
  * surgical generalization the reference's users would need the day
  * one row, not one database, must change.
  */
object MergeOnRead {

  /** Modulus picking the first DV-delete victim set (o_orderkey % 97
    * == 0): sparse, scattered across every ingest batch — the shape
    * COW handles worst and DVs handle best. */
  private val Mod1 = 97
  /** Second victim set (% 89): overlaps files already carrying a DV,
    * so the sidecar-union (supersede) path is exercised, not just the
    * first-write path. */
  private val Mod2 = 89

  /** Build-once DV table: four date-band ingest commits of orders
    * (v1-v4), then two merge-on-read key-set deletes (v5: %97,
    * v6: %89). NO materialization here — the queries read through the
    * DV anti-join. Versions are deterministic: build-once, CAS log. */
  private[graft] def morStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapmor_", s"$factPath|mor_v2")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Seq("data", "log", "index", "dv").foreach(d =>
        fs.delete(new Path(s"$root/$d"), true))
      buildBands(spark, t, factPath)
      deleteMor(spark, t)
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once materialized twin: same commits and DV deletes, then
    * [[SnapshotLog.Table.commitMaterializeDv]] (v7) — the compaction
    * that applies the DVs copy-on-write and retires them. */
  private[graft] def morCompactStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapmoc_", s"$factPath|moc_v2")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Seq("data", "log", "index", "dv").foreach(d =>
        fs.delete(new Path(s"$root/$d"), true))
      buildBands(spark, t, factPath)
      deleteMor(spark, t)
      t.commitMaterializeDv()
      fs.create(marker, true).close()
    }
    t
  }

  private def buildBands(spark: SparkSession, t: SnapshotLog.Table,
      factPath: String): Unit = {
    val orders = spark.read.parquet(factPath).select(
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
      col("o_orderdate").cast("date").as("o_date"),
      col("o_orderstatus"))
    val cuts = Seq("0001-01-01", "1997-01-01", "1999-01-01",
      "2001-01-01", "9999-01-01")
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      t.commitAppend(orders.filter(
        col("o_date") >= lit(lo).cast("date") &&
          col("o_date") < lit(hi).cast("date")), "o_orderstatus")
    }
  }

  private def deleteMor(spark: SparkSession, t: SnapshotLog.Table): Unit = {
    val live = t.asOf(t.version).select("o_orderkey")
    t.commitDeleteKeysMor(
      live.filter(col("o_orderkey") % Mod1 === 0), "o_orderkey")
    t.commitDeleteKeysMor(
      live.filter(col("o_orderkey") % Mod2 === 0), "o_orderkey")
  }

  /** Build-once CDC table: four KEY-RANGE ingest commits (quartiles of
    * o_orderkey, so the key zone maps actually separate files), then
    * one [[SnapshotLog.Table.commitApplyChanges]] batch scoped to the
    * FIRST quartile — updates (%13), tombstones (%17), and inserts
    * (%19 → key+1e8). The quartile scoping is the blast-radius story:
    * candidate files come from the batch's key range, so commits 2-4
    * carry over by log reference, unread (spec-asserted). */
  private[graft] def cdcStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapcdc_", s"$factPath|cdc_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Seq("data", "log", "index", "dv").foreach(d =>
        fs.delete(new Path(s"$root/$d"), true))
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val cuts = Seq(Long.MinValue, mx / 4 + 1, mx / 2 + 1,
        3 * (mx / 4) + 1, Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(orders.filter(
          col("o_orderkey") >= lo && col("o_orderkey") < hi),
          "o_orderstatus")
      }
      t.commitApplyChanges(
        changeBatch(t.asOf(t.version), mx), "o_orderkey")
      fs.create(marker, true).close()
    }
    t
  }

  /** The deterministic change batch over first-quartile keys: one row
    * per key, ops disjoint by construction (D wins %17; U takes
    * %13∧¬%17; I synthesizes fresh keys at +1e8 from %19∧¬%17∧¬%13,
    * so no key appears twice). */
  private def changeBatch(state: DataFrame, mx: Long): DataFrame = {
    val q1 = state.filter(col("o_orderkey") <= mx / 4)
    val dels = q1.filter(col("o_orderkey") % 17 === 0)
      .select(col("o_orderkey"), col("price_cents"),
        col("o_orderstatus"), lit("D").as("__op"))
    val upds = q1.filter(
      col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .select(col("o_orderkey"), (col("price_cents") + 100).as("price_cents"),
        col("o_orderstatus"), lit("U").as("__op"))
    val ins = q1.filter(col("o_orderkey") % 19 === 0 &&
      col("o_orderkey") % 17 =!= 0 && col("o_orderkey") % 13 =!= 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        (col("price_cents") + 7).as("price_cents"),
        col("o_orderstatus"), lit("U").as("__op"))
    dels.unionByName(upds).unionByName(ins)
  }

  /** Build-once MOR-MERGE table: the [[cdcStagedTable]] layout (four
    * key-quartile commits), then ONE
    * [[SnapshotLog.Table.commitMergeMor]] batch scoped to the first
    * quartile — updates (%13, cents+100) and fresh inserts (%19 →
    * key+1e8). The merge moves O(victims + batch): matched rows are
    * DV-tombstoned, the batch lands as adds, NO existing file is
    * rewritten (query-asserted from the log). */
  private[graft] def mergeMorStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapmm_", s"$factPath|mm_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Seq("data", "log", "index", "dv").foreach(d =>
        fs.delete(new Path(s"$root/$d"), true))
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val cuts = Seq(Long.MinValue, mx / 4 + 1, mx / 2 + 1,
        3 * (mx / 4) + 1, Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(orders.filter(
          col("o_orderkey") >= lo && col("o_orderkey") < hi),
          "o_orderstatus")
      }
      val q1 = t.asOf(t.version).filter(col("o_orderkey") <= mx / 4)
      val upds = q1.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          (col("price_cents") + 100).as("price_cents"),
          col("o_orderstatus"))
      val ins = q1.filter(
        col("o_orderkey") % 19 === 0 && col("o_orderkey") % 13 =!= 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          (col("price_cents") + 7).as("price_cents"),
          col("o_orderstatus"))
      t.commitMergeMor(upds.unionByName(ins), "o_orderkey")
      fs.create(marker, true).close()
    }
    t
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- merge-on-read MERGE (round 11): the DV-based upsert — the
    //      write-amplification complement of q_snapshot_merge exactly
    //      as q_snapshot_mor_delete complements q_snapshot_delete_
    //      range. One commit tombstones the matched rows into DV
    //      sidecars and lands the batch as plain adds; the in-query
    //      require reads the log and proves NO existing file was
    //      removed or rewritten (remove entries = 0, dv entries > 0)
    //      — at 100 TB this is a steady upsert stream costing
    //      O(victims + batch) per commit instead of one rewrite of
    //      every hit file. The oracle re-derives (target \ src-keys)
    //      ⊎ src from the raw table, so a resurrection through the
    //      raw read, a position mis-map, or a lost supersede all flip
    //      the hash.
    QueryDef.checked(
      "q_snapshot_merge_mor",
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders
        |), upd AS (
        |  SELECT k,
        |    CASE WHEN k <= (SELECT mx FROM m) // 4 AND k % 13 = 0
        |         THEN cents + 100 ELSE cents END AS cents,
        |    status
        |  FROM base
        |), ins AS (
        |  SELECT k + 100000000 AS k, cents + 7 AS cents, status
        |  FROM base
        |  WHERE k <= (SELECT mx FROM m) // 4
        |    AND k % 19 = 0 AND k % 13 <> 0
        |), final AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT status AS o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM final GROUP BY status ORDER BY status""".stripMargin) {
      (spark, dir) =>
      val t = mergeMorStagedTable(spark, dir)
      val v = t.version
      require(v == 5, s"fixture is 4 appends + 1 MOR merge, got $v")
      val mergeSeg = t.entries.filter(_.version == v)
      require(!mergeSeg.exists(_.action == "remove"),
        "MOR merge must not remove (rewrite) any existing file")
      require(mergeSeg.exists(_.action == "dv"),
        "MOR merge must tombstone matched rows via DV sidecars")
      require(mergeSeg.exists(_.action == "add"),
        "MOR merge must land the batch as adds")
      t.asOfMor(v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- BATCH change read (round 11): `table_changes(from, to)` —
    //      the bounded-window batch twin of the streaming CDF, for
    //      backfills and audits that want a DataFrame, not a
    //      checkpointed query. Same planner as the stream (per
    //      changed file, DV-delta aware), exercised here over the
    //      HARD window: the two MOR delete commits, where v6's
    //      superseding sidecar repeats v5's positions BY DESIGN and
    //      the feed must emit only the newly tombstoned delta — the
    //      oracle splits the victims by exactly that algebra (%97 at
    //      v5; %89 MINUS the already-dead %97 overlap at v6), so a
    //      double-delivered position or a missed supersede flips the
    //      hash. Both bounds are named; nothing outside (4, 6] flows.
    QueryDef.checked(
      "q_table_changes",
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders
         |)
         |SELECT CAST(5 AS BIGINT) AS _version, 'delete' AS change,
         |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM base WHERE k % $Mod1 = 0
         |UNION ALL
         |SELECT CAST(6 AS BIGINT), 'delete', count(*),
         |  CAST(sum(cents) AS BIGINT)
         |FROM base WHERE k % $Mod2 = 0 AND k % $Mod1 <> 0
         |ORDER BY _version""".stripMargin) { (spark, dir) =>
      val t = morStagedTable(spark, dir)
      spark.read
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "o_orderstatus")
        .option("schema.ddl", "o_orderkey LONG, price_cents LONG")
        .option("startingVersion", "4") // exclusive: changes AFTER v4
        .option("endingVersion", "6")
        .load()
        .groupBy(col("_version"), col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).cast("long").as("sum_cents"))
        .orderBy("_version")
    },

    // ---- merge-on-read delete: two key-set deletes committed as
    //      deletion vectors (zero data files rewritten — spec-asserted
    //      on the live set), read back through the (file, pos)
    //      anti-join. The oracle recomputes the survivor set from the
    //      raw fact table, so a position mis-mapped, a sidecar lost in
    //      the v6 supersede, or a row doubly-deleted all flip the
    //      hash. At 100 TB this is the GDPR-queue shape: the delete
    //      commits in O(victims), the table's 10⁸ untouched rows never
    //      move.
    QueryDef.checked(
      "q_snapshot_mor_delete",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE o_orderkey % $Mod1 <> 0 AND o_orderkey % $Mod2 <> 0
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = morStagedTable(spark, dir)
      t.asOfMor(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- DV materialization: the compaction twin — the same two
    //      deletes applied copy-on-write to ONLY the DV-carrying
    //      files, DVs retired (spec asserts dvFor is empty and
    //      untouched files carried over by reference). The PLAIN asOf
    //      read — no anti-join — must reproduce the same survivor
    //      set, which is exactly the mor→cow equivalence contract.
    QueryDef.checked(
      "q_snapshot_mor_compact",
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  count(DISTINCT o_orderstatus) AS n_status
         |FROM orders
         |WHERE o_orderkey % $Mod1 <> 0 AND o_orderkey % $Mod2 <> 0"""
        .stripMargin) { (spark, dir) =>
      val t = morCompactStagedTable(spark, dir)
      t.asOf(t.version)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          countDistinct(col("o_orderstatus")).as("n_status"))
    },

    // ---- full CDC merge (tri-clause MERGE INTO): one change batch
    //      carrying updates, tombstones, and inserts lands in one
    //      commit; the final state must equal the oracle's
    //      re-derivation of the same clauses over the raw table. The
    //      key-quartile scoping makes the blast radius visible:
    //      lastMergeScan proves commits 2-4 were never read
    //      (spec-asserted), the log shows them carried by reference.
    QueryDef.checked(
      "q_snapshot_cdc_merge",
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders
        |), kept AS (  -- matched-delete drops %17 of the first quartile
        |  SELECT k,
        |    CASE WHEN k <= (SELECT mx FROM m) // 4
        |           AND k % 13 = 0 AND k % 17 <> 0
        |         THEN cents + 100 ELSE cents END AS cents,
        |    status
        |  FROM base
        |  WHERE NOT (k <= (SELECT mx FROM m) // 4 AND k % 17 = 0)
        |), ins AS (   -- not-matched-insert synthesizes fresh keys
        |  SELECT k + 100000000 AS k, cents + 7 AS cents, status
        |  FROM base
        |  WHERE k <= (SELECT mx FROM m) // 4
        |    AND k % 19 = 0 AND k % 17 <> 0 AND k % 13 <> 0
        |), final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT status AS o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM final GROUP BY status ORDER BY status""".stripMargin) {
      (spark, dir) =>
      val t = cdcStagedTable(spark, dir)
      t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- merge-on-read-aware change feed: a DV commit must surface
    //      its deletes ROW-LEVEL in the CDF (only the NEWLY tombstoned
    //      positions — a superseding sidecar repeats prior positions
    //      by design, and re-emitting them would double-delete), and a
    //      materialization must net to ZERO (its file removes emit
    //      only still-live rows, because the DV'd rows already left
    //      the feed when their DV committed — in-query require). The
    //      feed is folded (+insert/−delete) back into per-type state;
    //      the oracle recomputes that state from the raw events, so a
    //      missed tombstone, a repeated one, or a double-counted
    //      materialization all flip the hash. This is the contract
    //      that lets a downstream IVM consumer keep its aggregate
    //      exact across MOR deletes AND their eventual compaction.
    QueryDef.checked(
      "q_stream_cdf_mor",
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events
        |WHERE event_id % 3 = 0
        |  AND event_id % 11 <> 0 AND event_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_cdfmor_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      // a deterministic third of the log: every feed row passes the
      // single-threaded Group reader THREE times here (insert, then
      // the materialization's delete+reinsert), so the fixture is the
      // cost knob — the semantics under proof (delta-only DV deletes,
      // net-zero materialization) are row-count-independent
      val ev = graft.Tables(spark, dir).events
        .filter(col("event_id") % 3 === 0).select(
          col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      t.commitAppend(ev.filter(col("event_id") % 2 === 0), "event_type")
      t.commitAppend(ev.filter(col("event_id") % 2 === 1), "event_type")
      val live = t.asOf(2).select("event_id")
      t.commitDeleteKeysMor(
        live.filter(col("event_id") % 11 === 0), "event_id") // v3
      t.commitDeleteKeysMor(
        live.filter(col("event_id") % 13 === 0), "event_id") // v4
      t.commitMaterializeDv()                                // v5
      val ckpt = base.resolve("ckpt").toString
      val q = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "event_type")
        .option("schema.ddl", "event_id LONG, cents LONG")
        .load()
        .writeStream.format("memory").queryName("graft_stream_cdf_mor")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val feed = spark.table("graft_stream_cdf_mor").transform(localCheckpoint)
      // materialization nets to zero, row count AND mass
      val sgn = when(col("_change") === "insert", 1L).otherwise(-1L)
      val net5 = feed.filter(col("_version") === 5)
        .agg(sum(sgn), sum(sgn * col("cents"))).head()
      require(net5.getLong(0) == 0L && net5.getLong(1) == 0L,
        s"materialization did not net to zero in the feed: $net5")
      val out = feed.groupBy("event_type")
        .agg(sum(sgn).cast("long").as("n_rows"),
          sum(sgn * col("cents")).cast("long").as("sum_cents"))
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- STRING-keyed merge-on-read delete (the real GDPR-erasure
    //      shape: document/user ids are strings, and hash-shaped ids
    //      are exactly what range stats cannot prune). The key is an
    //      md5 of the doc id — uncorrelated with ingest order, so the
    //      string zone maps keep everything and only the xxhash64
    //      bloom sidecars bound the candidate scan (FileIndexSpec
    //      asserts the pruning deterministically; here the oracle
    //      re-derives the survivor set, so a mis-hashed probe, a
    //      false-negative bloom, or a mis-mapped position flips the
    //      hash). Four interleaved ingest commits make every file span
    //      the full key domain.
    QueryDef.checked(
      "q_snapshot_mor_delete_str",
      """WITH d AS (
        |  SELECT lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS uid
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d WHERE uid NOT LIKE '00%'
        |GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_morstr_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString,
        bloomCols = Seq("uid"))
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("uid"))
      (0 until 4).foreach(j =>
        t.commitAppend(docs.filter(col("doc_id") % 4 === j), "lang"))
      t.commitDeleteKeysMor(
        docs.filter(col("uid").startsWith("00")).select("uid"), "uid")
      val out = t.asOfMor(t.version)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- DVs through a rewrite: an upsert MERGE lands AFTER a
    //      merge-on-read delete, scattering hits over every file. Each
    //      rewritten file's removal RETIRES its DV binding, so the
    //      rewrite must APPLY the deletes — the resurrection trap this
    //      round closed (a raw victim read would copy the dead rows
    //      into the new files and silently retire the only record of
    //      their deletion). The oracle re-derives the final state:
    //      %89 keys upserted (+11 cents — including re-inserting
    //      deleted ones, the upsert contract), %97∧¬%89 keys STAY
    //      dead; a single resurrected row flips the hash.
    QueryDef.checked(
      "q_snapshot_dv_rewrite",
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders
        |), final AS (
        |  SELECT k, cents + 11 AS cents, status FROM base
        |  WHERE k % 89 = 0
        |  UNION ALL
        |  SELECT k, cents, status FROM base
        |  WHERE k % 89 <> 0 AND k % 97 <> 0
        |)
        |SELECT status AS o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM final GROUP BY status ORDER BY status""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_dvrw_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      val orders = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 0),
        "o_orderstatus")
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 1),
        "o_orderstatus")
      t.commitDeleteKeysMor(
        orders.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"),
        "o_orderkey") // v3: merge-on-read, zero rewrites
      t.commitMerge(orders.filter(col("o_orderkey") % 89 === 0)
        .withColumn("price_cents", col("price_cents") + 11),
        "o_orderkey") // v4: the rewrite under test
      val out = t.asOfMor(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- TIMESTAMP-keyed MERGE with zone-map pruning: event-time is
    //      the natural CDC key for telemetry tables, and it now prunes
    //      like any long key (TIMESTAMP lands as INT64 micros, so the
    //      footer zone maps carry it; the probe widens through
    //      unix_micros exactly as DATE widens to epoch days). Three
    //      time-band ingest commits; a merge carrying only mid-band
    //      keys must scan ~that band's files — the in-query require
    //      makes the pruning a correctness condition, the oracle
    //      proves the upsert values.
    QueryDef.checked(
      "q_snapshot_merge_ts",
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |base AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), final AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id > (SELECT mx FROM m) // 3
        |           AND event_id <= 2 * ((SELECT mx FROM m) // 3)
        |           AND event_id % 7 = 0
        |         THEN cents + 5 ELSE cents END AS cents
        |  FROM base
        |)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY event_type ORDER BY event_type"""
        .stripMargin) { (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_mergets_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      // tskey: a unique per-row event-time key (micros = event_id), so
      // both engines derive the identical key and banding
      val ev = spark.read.parquet(s"$dir/events.parquet").select(
        col("event_id"),
        timestamp_micros(col("event_id")).as("tskey"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val mx = ev.agg(max("event_id")).head().getLong(0)
      val cuts = Seq(Long.MinValue, mx / 3 + 1, 2 * (mx / 3) + 1,
        Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(ev.filter(
          col("event_id") >= lo && col("event_id") < hi), "event_type")
      }
      val src = ev.filter(col("event_id") > mx / 3 &&
        col("event_id") <= 2 * (mx / 3) && col("event_id") % 7 === 0)
        .withColumn("cents", col("cents") + 5)
      t.commitMerge(src, "tskey")
      val Some((cand, live)) = t.lastMergeScan
      require(cand < live,
        s"timestamp zone maps did not prune: scanned $cand of $live")
      val out = t.asOf(t.version)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("event_type").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- tagged RESTORE (Delta RESTORE / Iceberg rollback): the
    //      row-exact generalization of the reference's
    //      backup-then-restore discipline (clone_databases.sh:203-217
    //      snapshots so a bad clone can be undone) — here the undo is
    //      METADATA-ONLY: a tag names the good version, two bad
    //      commits land (a MERGE bump that rewrites files and a
    //      tombstone batch), and commitRestoreTag brings back the
    //      tagged live set BY LOG REFERENCE, deletion-vector bindings
    //      included (the tag points at a post-MOR-delete version, so
    //      the restore must re-bind row-level deletes, not just
    //      files). In-query requires pin the mechanics: restored
    //      live set and DV bindings EQUAL the target's, and the
    //      restore segment carries no stats entries (nothing was
    //      written). The oracle re-derives the final state from raw
    //      orders + the post-restore recovery batch — a leaked bad
    //      row, a lost DV rebind, or a vacuum-eaten file flips it.
    QueryDef.checked(
      "q_snapshot_restore",
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders
        |), survivors AS (
        |  SELECT k, cents, status FROM base WHERE k % 97 <> 0
        |), recovery AS (
        |  SELECT k + 200000000 AS k, cents + 3 AS cents, status
        |  FROM base WHERE k % 97 <> 0 AND k % 19 = 0
        |), final AS (
        |  SELECT * FROM survivors UNION ALL SELECT * FROM recovery
        |)
        |SELECT status AS o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM final GROUP BY status ORDER BY status""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_restore_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      val orders = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 0),
        "o_orderstatus")
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 1),
        "o_orderstatus")
      t.commitDeleteKeysMor(
        orders.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"),
        "o_orderkey")                       // v3: the good state (has DVs)
      t.commitTagVersion("ga", 3)           // v4: name it
      t.commitMerge(orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("price_cents", col("price_cents") + 999),
        "o_orderkey")                       // v5: bad bump (rewrites files)
      t.commitApplyChanges(
        orders.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), col("price_cents"),
            col("o_orderstatus"), lit("D").as("__op")),
        "o_orderkey")                       // v6: bad tombstones
      val rv = t.commitRestoreTag("ga")     // v7: metadata-only undo
      require(t.liveFiles(rv).toSet == t.liveFiles(3).toSet,
        "restore must resolve exactly the tagged live set")
      require(t.dvFor(rv) == t.dvFor(3),
        "restore must re-bind the tagged version's deletion vectors")
      require(t.entries.filter(_.version == rv)
        .forall(e => Set("remove", "add", "dv", "meta").contains(e.action)),
        "a restore writes no data: log entries only")
      t.commitAppend(                        // v8: life goes on
        t.asOfMor(rv).filter(col("o_orderkey") % 19 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            (col("price_cents") + 3).as("price_cents"),
            col("o_orderstatus")), "o_orderstatus")
      val out = t.asOfMor(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- change feed ACROSS a partition-evolution boundary: the r9
    //      source hard-required every file to carry the table-level
    //      `partCol=` prefix and died on the first old-layout file —
    //      the batch side was layout-aware, the streaming side was
    //      not. Now each file's partition value is recovered from ITS
    //      OWN path segment (null for foreign layouts, the unionByName
    //      contract) and declared columns missing from a file's
    //      physical schema null-fill. The in-query requires pin
    //      exactly those semantics (v2 rows: null status, null band
    //      column; v1 rows: both real); the folded state must match
    //      the oracle's re-derivation including the layout-scoped v3
    //      delete — a feed that dropped, doubled, or mis-scoped any
    //      commit flips the hash.
    QueryDef.checked(
      "q_stream_cdf_evolution",
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderdate AS d,
        |    CASE WHEN round(o_totalprice * 100) < 10000000 THEN 'low'
        |         WHEN round(o_totalprice * 100) < 25000000 THEN 'mid'
        |         ELSE 'high' END AS band
        |  FROM orders WHERE o_orderkey % 3 = 0
        |), final AS (
        |  SELECT * FROM base
        |  WHERE d < TIMESTAMP '1997-01-01' OR band <> 'low'
        |)
        |SELECT k % 8 AS bucket, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_cdfevo_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 3 === 0) // deterministic third:
        // every feed row passes the single-threaded Group reader
        .select(
          col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus"), col("o_orderdate"),
          expr("""CASE WHEN round(o_totalprice * 100) < 10000000 THEN 'low'
                 |     WHEN round(o_totalprice * 100) < 25000000 THEN 'mid'
                 |     ELSE 'high' END""".stripMargin).as("price_band"))
      val cut = lit("1997-01-01").cast("timestamp")
      t.commitAppend(orders.filter(col("o_orderdate") < cut)
        .drop("o_orderdate"), "o_orderstatus") // v1: old layout
      t.commitAppend(orders.filter(col("o_orderdate") >= cut)
        .drop("o_orderdate"), "price_band")    // v2: evolved layout
      t.commitDeletePartition("price_band", "low") // v3: new layout only
      val ckpt = base.resolve("ckpt").toString
      val q = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "o_orderstatus")
        .option("schema.ddl",
          "o_orderkey LONG, cents LONG, price_band STRING")
        .load()
        .writeStream.format("memory").queryName("graft_stream_cdf_evo")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val feed = spark.table("graft_stream_cdf_evo").transform(localCheckpoint)
      // v1 (own layout): path-recovered status AND the band data column
      val v1 = feed.filter(col("_version") === 1)
      require(v1.filter(col("o_orderstatus").isNull ||
        col("price_band").isNull).count() == 0,
        "own-layout rows must carry both columns")
      // v2 (foreign layout): null status (not this file's path column)
      // and null band DATA column (it is v2's path column, not a field)
      val v2 = feed.filter(col("_version") === 2)
      require(v2.count() > 0 && v2.filter(col("o_orderstatus").isNotNull
        || col("price_band").isNotNull).count() == 0,
        "foreign-layout rows must null-fill, not die")
      require(feed.filter(col("_version") === 3 &&
        col("_change") === "delete").count() > 0, "v3 deletes missing")
      val sgn = when(col("_change") === "insert", 1L).otherwise(-1L)
      val out = feed.groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(sum(sgn).cast("long").as("n_rows"),
          sum(sgn * col("cents")).cast("long").as("sum_cents"))
        .orderBy("bucket").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- CHECK constraints on commit (Delta's ADD CONSTRAINT): the
    //      table enforces its own invariants — a poisoned batch is a
    //      REJECTED COMMIT, not poisoned training data found weeks
    //      later by a quality dashboard. Validation costs one filter
    //      pass over the incoming DELTA (never the table), the
    //      constraint is itself a log entry (versioned, checkpoint-
    //      durable, droppable), and every write path checks it —
    //      append, idempotent append, MERGE, CDC apply, WAP publish.
    //      The query commits a clean half, registers the invariant,
    //      proves BOTH an append and a merge of violating rows bounce
    //      (in-query requires), then lands the second clean half; the
    //      oracle recomputes the final state from the raw table, so a
    //      leaked poisoned row or a lost clean batch flips the hash.
    QueryDef.checked(
      "q_snapshot_constraints",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_constr_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      val orders = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 0),
        "o_orderstatus")
      t.addConstraint("nonneg_price", "price_cents >= 0")
      val poisoned = orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("price_cents", -col("price_cents") - 1)
      def bounced(f: => Unit): Boolean =
        try { f; false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("nonneg_price") }
      require(bounced(t.commitAppend(poisoned, "o_orderstatus")),
        "append of violating rows must be rejected")
      require(bounced(t.commitMerge(poisoned, "o_orderkey")),
        "merge of violating rows must be rejected")
      t.commitAppend(orders.filter(col("o_orderkey") % 2 === 1),
        "o_orderstatus")
      val out = t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    },

    // ---- partition evolution (the Iceberg contract): the table's
    //      partition column CHANGES mid-life — v1 ingests partitioned
    //      by status, v2 by price band — and NOTHING rewrites: old
    //      files keep the old layout, reads group live files by their
    //      `col=` path prefix and union the layouts by name. The
    //      subtle semantics under proof: a metadata-only partition
    //      delete scopes to ITS OWN layout — dropping `price_band=low`
    //      kills v2's low-band files while v1's low-band ROWS survive
    //      (they live in status-partitioned files; deleting them would
    //      need a row-level delete). The oracle encodes exactly that
    //      asymmetry, and the n_low_band column makes it visible: a
    //      read that lost the old layout, double-dropped, or
    //      mis-grouped the union flips the hash.
    QueryDef.checked(
      "q_snapshot_partition_evolution",
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status, o_orderdate AS d,
        |    CASE WHEN round(o_totalprice * 100) < 10000000 THEN 'low'
        |         WHEN round(o_totalprice * 100) < 25000000 THEN 'mid'
        |         ELSE 'high' END AS band
        |  FROM orders
        |), final AS (
        |  -- the layout-scoped delete: only the NEW layout's low band
        |  -- dies; pre-1997 low-band rows live in status-partitioned
        |  -- files and survive
        |  SELECT * FROM base
        |  WHERE d < TIMESTAMP '1997-01-01' OR band <> 'low'
        |)
        |SELECT status AS o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(*) FILTER (WHERE band = 'low') AS BIGINT)
        |    AS n_low_band
        |FROM final GROUP BY status ORDER BY status""".stripMargin) {
      (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_pevo_")
      val t = new SnapshotLog.Table(spark, base.resolve("table").toString)
      val orders = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("price_cents"),
        col("o_orderstatus"), col("o_orderdate"),
        expr("""CASE WHEN round(o_totalprice * 100) < 10000000 THEN 'low'
               |     WHEN round(o_totalprice * 100) < 25000000 THEN 'mid'
               |     ELSE 'high' END""".stripMargin).as("price_band"))
      val cut = lit("1997-01-01").cast("timestamp")
      // v1: the old layout (status-partitioned; band rides as data)
      t.commitAppend(orders.filter(col("o_orderdate") < cut)
        .drop("o_orderdate"), "o_orderstatus")
      // v2: the evolved layout (band-partitioned; status rides as data)
      t.commitAppend(orders.filter(col("o_orderdate") >= cut)
        .drop("o_orderdate"), "price_band")
      // v3: metadata-only delete IN THE NEW LAYOUT — zero bytes move,
      // and it cannot touch the old layout's rows by construction
      t.commitDeletePartition("price_band", "low")
      val out = t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          sum(when(col("price_band") === "low", 1L).otherwise(0L))
            .as("n_low_band"))
        .orderBy("o_orderstatus").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    }
  )
}
