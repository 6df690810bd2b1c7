package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import graft.sources.{KeyRange, SnapshotLog}

/** Round-8 additions: the file-index wave over the snapshot log.
  * Round 7 built the versioned table (time travel, change feed, COW
  * merge, zone-map skipping); round 8 made its commit protocol atomic
  * and O(delta) and extends DATA SKIPPING to the two cases range stats
  * can't serve:
  *
  *  - typed zone maps: min/max recorded for INT32/DATE (and ASCII
  *    string) parquet physical types, so the natural "filter by day"
  *    read over a date-typed ingest column prunes whole commits from
  *    the manifest — not just BIGINT columns;
  *  - bloom file index: per-file bloom sidecars on a designated key
  *    column, pruning POINT lookups on keys uncorrelated with ingest
  *    order — where every file's [min,max] spans the whole domain and
  *    zone maps keep everything;
  *  - a CDF consumer that starts from a chosen version instead of
  *    replaying all history (`startingVersion`);
  *  - clustered compaction (`commitCluster`): when the column is
  *    scattered across files, stats exist but help nothing — rewriting
  *    the layout range-partitioned is what makes them prune;
  *  - additive schema evolution: later commits may add columns, reads
  *    union the schemas and null pre-evolution rows.
  *
  * The storage generalization of the reference's verify-after-clone
  * discipline (clone_databases.sh:480-551 re-reads what it wrote):
  * every skipping path is hash-checked against the full-scan oracle,
  * so pruning may only skip files it can PROVE empty of matches.
  */
object FileIndex {

  /** Lookup keys for the bloom point lookup: three dense orderkeys
    * that exist at every SF, plus one that exists nowhere — membership
    * semantics must hold for both. */
  private val LookupKeys = Seq(11L, 97L, 123L, 10000000L)

  /** Build-once evolved table for the type-widening + DEFAULT-column
    * queries: v1 = the LOW key half with `k` committed as INT (narrow
    * parquet footers), v2 = `widenColumn(k -> bigint)`, v3 =
    * `addColumnDefault(score bigint 7)`, v4 = the HIGH key half with
    * `k` shifted past the INT32 range (so the widened type is
    * load-bearing, not cosmetic) and a `score` column carrying real
    * values AND real NULLs (so the default provably never overwrites
    * a carrying file's NULLs). */
  private[graft] def evoStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_evo_", s"$factPath|evo_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      fs.delete(new Path(s"$root/index"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"), col("o_orderstatus").as("part"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cut = orders.agg(max("o_orderkey")).head().getLong(0) / 2
      t.commitAppend(orders.filter(col("o_orderkey") < cut)
        .select(col("o_orderkey").cast("int").as("k"),
          col("part"), col("cents")), "part")                   // v1
      t.widenColumn("k", "bigint")                              // v2
      t.addColumnDefault("score", "bigint", "7")                // v3
      t.commitAppend(orders.filter(col("o_orderkey") >= cut)
        .select((col("o_orderkey") + lit(10000000000L)).as("k"),
          col("part"), col("cents"),
          when(col("o_orderkey") % 10 === 0,
            lit(null).cast("bigint"))
            .otherwise(col("o_orderkey") % 100).as("score")),
        "part")                                                 // v4
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the file-index queries: four
    * date-range appends (the natural time-ordered ingest) of
    * (o_orderkey, price_cents, o_date DATE, o_orderstatus), with a
    * bloom sidecar index on `o_orderkey`. The layout is the point:
    * `o_date` is ingest-clustered (each commit's files span one narrow
    * date range → zone maps skip), `o_orderkey` is uniform across time
    * (every file spans ~the full key range → only the bloom index
    * skips). */
  private[graft] def idxStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapx_", s"$factPath|idx_v1")
    val t = new SnapshotLog.Table(spark, root,
      bloomCols = Seq("o_orderkey"))
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      fs.delete(new Path(s"$root/index"), true)
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
            col("o_date") < lit(hi).cast("date")),
          "o_orderstatus")
      }
      fs.create(marker, true).close()
    }
    t
  }

  /** Schema-evolution epoch cuts: rows before [[SeD1]] land in the
    * pre-evolution commit (no priority column), rows in [SeD1, SeD2)
    * in the evolved one. */
  private val SeD1 = "1997-01-01"
  private val SeD2 = "1999-01-01"

  /** Build-once versioned table for the clustering query: four
    * KEY-HASH batches (o_orderkey % 4), so `price_cents` is scattered
    * uniformly across every file and zone maps on it prune nothing —
    * then one [[SnapshotLog.Table.commitCluster]] by price_cents
    * rewrites the layout into narrow non-overlapping price slices. */
  private[graft] def clusterStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapcl_",
      s"$factPath|cluster_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderstatus"))
      (0L to 3L).foreach { r =>
        t.commitAppend(orders.filter(col("o_orderkey") % 4 === r),
          "o_orderstatus")
      }
      t.commitCluster("price_cents", filesPerRange = 8)
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the schema-evolution query: v1
    * appends WITHOUT `o_orderpriority` (the pre-evolution pipeline),
    * v2 WITH it — reads must union the schemas. */
  private[graft] def seStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapse_", s"$factPath|se_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderdate"), col("o_orderstatus"), col("o_orderpriority"))
      val ts1 = lit(SeD1).cast("timestamp")
      val ts2 = lit(SeD2).cast("timestamp")
      t.commitAppend(orders.filter(col("o_orderdate") < ts1)
        .drop("o_orderpriority", "o_orderdate"), "o_orderstatus")
      t.commitAppend(orders.filter(
        col("o_orderdate") >= ts1 && col("o_orderdate") < ts2)
        .drop("o_orderdate"), "o_orderstatus")
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the column-mapping query:
    * ingest interleaved with RENAME/DROP COLUMN —
    *  v1/v2: date bands 1,2 as (o_orderkey, cents, o_date_days,
    *         scratch), bloom-indexed on o_orderkey;
    *  v3:    RENAME cents -> price_cents (metadata-only);
    *  v4:    band 3 written under the NEW logical names;
    *  v5:    RENAME o_orderkey -> order_id (the BLOOM column);
    *  v6:    DROP scratch;
    *  v7:    band 4 written post-drop (order_id, price_cents only).
    * Physical names never change, so the v1/v2 files, their zone
    * maps and bloom sidecars serve reads at v7 untouched. */
  private[graft] def rcStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snaprc_", s"$factPath|rc_v1")
    val t = new SnapshotLog.Table(spark, root,
      bloomCols = Seq("o_orderkey"))
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      fs.delete(new Path(s"$root/index"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
          .as("o_date_days"),
        (col("o_orderkey") % 7).as("scratch"),
        col("o_orderstatus"))
      val cuts = Seq(Long.MinValue, Wave8.days("1997-01-01"),
        Wave8.days("1999-01-01"), Wave8.days("2001-01-01"), Long.MaxValue)
      def band(i: Int) = orders.filter(
        col("o_date_days") >= cuts(i) && col("o_date_days") < cuts(i + 1))
      t.commitAppend(band(0), "o_orderstatus")
      t.commitAppend(band(1), "o_orderstatus")
      t.renameColumn("cents", "price_cents")
      t.commitAppend(band(2).withColumnRenamed("cents", "price_cents"),
        "o_orderstatus")
      t.renameColumn("o_orderkey", "order_id")
      t.dropColumn("scratch")
      t.commitAppend(band(3)
        .withColumnRenamed("cents", "price_cents")
        .withColumnRenamed("o_orderkey", "order_id")
        .drop("scratch"), "o_orderstatus")
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the IDENTITY query: four
    * date-band identity appends — each batch's rows numbered
    * contiguously past the previous watermark, ordered by o_orderkey
    * within the batch, so the full assignment is exactly
    * `row_number() OVER (ORDER BY band, o_orderkey)` — SQL-replayable
    * by construction. */
  private[graft] def identStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapid_", s"$factPath|ident_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
          .as("o_date_days"),
        col("o_orderstatus"))
      val cuts = Seq(Long.MinValue, Wave8.days("1997-01-01"),
        Wave8.days("1999-01-01"), Wave8.days("2001-01-01"), Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppendIdentity(orders.filter(
          col("o_date_days") >= lo && col("o_date_days") < hi),
          "o_orderstatus", "row_id", Seq(col("o_orderkey")))
      }
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the range-delete query: four
    * date-range appends, then one `commitDeleteRange` of the
    * mid-1997..end-1997 day band — the zone maps bound the COW blast
    * radius to commit 2's files. */
  private[graft] def drStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapdr_", s"$factPath|dr_v2")
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
      val cuts = Seq(Long.MinValue, Wave8.days("1997-01-01"),
        Wave8.days("1999-01-01"), Wave8.days("2001-01-01"), Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(orders.filter(
          col("o_date_days") >= lo && col("o_date_days") < hi),
          "o_orderstatus")
      }
      t.commitDeleteRange(KeyRange.Longs("o_date_days",
        Wave8.days("1997-06-01"), Wave8.days("1997-12-31")))
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the Z-order query: four KEY-HASH
    * batches scatter BOTH `price_cents` and `o_date_days` across every
    * file (1-D stats prune nothing on either), then one
    * [[SnapshotLog.Table.commitClusterZ]] interleaves the two into a
    * z-value layout — after which each file covers ≈ a rectangle in
    * (price, day)-space and the ordinary zone maps prune on each
    * dimension. */
  private[graft] def zStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapz_", s"$factPath|z_v2")
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
      (0L to 3L).foreach { h =>
        t.commitAppend(orders.filter(col("o_orderkey") % 4 === h),
          "o_orderstatus")
      }
      t.commitClusterZ("price_cents", "o_date_days",
        filesPerRange = 16)
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once CLONE fixture: zero-copy clone of [[idxStagedTable]]
    * at its final version (hard links, stats carried verbatim), then
    * the clone DIVERGES — a range delete of the mid-1997 band lands on
    * the clone only. The source's integrity is the query's in-query
    * require; the clone's content is the oracle's. */
  private[graft] def cloneStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapcn_", s"$factPath|cn_v1")
    val t = new SnapshotLog.Table(spark, root,
      bloomCols = Seq("o_orderkey"))
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Seq("data", "log", "index", "dv").foreach(d =>
        fs.delete(new Path(s"$root/$d"), true))
      val src = idxStagedTable(spark, dir)
      t.commitCloneFrom(src, src.version)
      // divergence on the CLONE only: drop one status partition —
      // metadata-only (log `remove` entries over linked files; the
      // source's directory entries and its reads are untouched)
      t.commitDeletePartition("o_orderstatus", "F")
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the replace-where query: the
    * [[drStagedTable]] layout (four epoch-day-banded appends), then
    * ONE [[SnapshotLog.Table.commitReplaceWhere]] swapping the
    * mid-1997 band for its recomputed twin (prices bumped +100) —
    * the backfill shape, landed atomically in a single version. */
  private[graft] def rwStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snaprw_", s"$factPath|rw_v1")
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
      val cuts = Seq(Long.MinValue, Wave8.days("1997-01-01"),
        Wave8.days("1999-01-01"), Wave8.days("2001-01-01"), Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        t.commitAppend(orders.filter(
          col("o_date_days") >= lo && col("o_date_days") < hi),
          "o_orderstatus")
      }
      val (lo, hi) = (Wave8.days("1997-06-01"), Wave8.days("1997-12-31"))
      t.commitReplaceWhere(KeyRange.Longs("o_date_days", lo, hi),
        orders.filter(col("o_date_days").between(lo, hi))
          .withColumn("price_cents", col("price_cents") + 100))
      fs.create(marker, true).close()
    }
    t
  }

  /** Build-once versioned table for the write-audit-publish query:
    * v1 = the pre-[[SeD1]] orders; then a POISONED batch (prices
    * negated — the audit's job to catch) is staged and dropped, and
    * the real [SeD1, SeD2) batch is staged, audited, and published.
    * Final state ≡ all orders < SeD2 — anything the poisoned batch
    * leaked, or the drop wrongly removed, breaks that equivalence. */
  private[graft] def wapStagedTable(
      spark: SparkSession, dir: String): SnapshotLog.Table = {
    val factPath = java.nio.file.Paths.get(s"$dir/orders.parquet")
      .toAbsolutePath.toString
    val root = graft.util.Staging.dir("graft_snapwap_", s"$factPath|wap_v1")
    val t = new SnapshotLog.Table(spark, root)
    val marker = new Path(s"$root/_BUILT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new Path(s"$root/data"), true)
      fs.delete(new Path(s"$root/log"), true)
      val orders = spark.read.parquet(factPath).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderdate"), col("o_orderstatus"))
      val ts1 = lit(SeD1).cast("timestamp")
      val ts2 = lit(SeD2).cast("timestamp")
      t.commitAppend(orders.filter(col("o_orderdate") < ts1)
        .drop("o_orderdate"), "o_orderstatus")
      val batch = orders.filter(
        col("o_orderdate") >= ts1 && col("o_orderdate") < ts2)
        .drop("o_orderdate")
      // the poisoned twin: negated prices — staged, audited, DROPPED
      t.stageAppend(batch.withColumn("price_cents", -col("price_cents")),
        "o_orderstatus", "poisoned")
      val badMin = t.stagedRead("poisoned")
        .agg(min(col("price_cents"))).head().getLong(0)
      require(badMin < 0, "audit must see the staged batch's real rows")
      t.dropStaged("poisoned")
      // the real batch: staged, audited, PUBLISHED
      t.stageAppend(batch, "o_orderstatus", "ingest")
      val goodMin = t.stagedRead("ingest")
        .agg(min(col("price_cents"))).head().getLong(0)
      require(goodMin >= 0, "audit gate failed on the good batch")
      t.publishStaged("ingest")
      fs.create(marker, true).close()
    }
    t
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- predicate-scoped row-level DELETE: remove a day band that
    //      CROSSES no partition boundary usefully (status partitions
    //      are orthogonal to time), so partition-value COW can't scope
    //      it — the zone maps do: only commit 2's files (the one
    //      ingest batch whose [min,max] day range intersects the band)
    //      are rewritten; commits 1/3/4 carry over by log reference,
    //      unread (spec-asserted on the remove entries). At 100 TB
    //      this is GDPR-style "delete H2-1997" rewriting one batch's
    //      files, not the table. The oracle recomputes the survivor
    //      set from the raw fact table, so deleting too much, too
    //      little, or from the wrong files flips the hash.
    QueryDef.checked(
      "q_snapshot_delete_range",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |  NOT BETWEEN ${Wave8.days("1997-06-01")}
         |          AND ${Wave8.days("1997-12-31")}
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = drStagedTable(spark, dir)
      t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- bloom-index point lookup: per-file bloom sidecars (10
    //      bits/key, k=7, built executor-side at commit time) prune a
    //      key-set lookup to ~the files that actually contain the keys
    //      — the skipping case zone maps cannot serve, because
    //      o_orderkey is uniform over ingest time and every file's
    //      [min,max] spans the whole domain (Wave9Spec asserts the
    //      range-prune keeps everything while the bloom-prune skips).
    //      At 100 TB this is the "find these 3 records" query reading
    //      a handful of files instead of the table. Correctness: the
    //      pruned read + row filter must hash-match the full-scan IN
    //      filter the oracle computes — a bloom may only skip files it
    //      can prove keyless (no false negatives; false positives cost
    //      I/O, never rows).
    QueryDef.checked(
      "q_snapshot_point_lookup",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE o_orderkey IN (${LookupKeys.mkString(", ")})
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = idxStagedTable(spark, dir)
      // the IN-list prunes files by bloom at plan time, and rows
      t.asOf(t.version)
        .filter(col("o_orderkey").isin(LookupKeys: _*))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- typed zone-map skipping: the same manifest-level pruning as
    //      q_snapshot_skipping, but on a DATE-typed column (parquet
    //      INT32/date physical stats, widened to epoch days) — the
    //      natural type of the ingest-clustering column in production
    //      tables, which round 7's INT64-only stats silently did not
    //      cover. The mid-1997..mid-1998 window survives only commit
    //      2's files (spec-asserted); the oracle recomputes from the
    //      full fact scan, so a pruned file that COULD have matched
    //      flips the hash.
    QueryDef.checked(
      "q_snapshot_skipping_date",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |  BETWEEN DATE '1997-06-01' AND DATE '1998-06-01'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = idxStagedTable(spark, dir)
      // the band prunes files by zone map at plan time, and rows
      t.asOf(t.version)
        .filter(col("o_date").between(
          lit("1997-06-01").cast("date"),
          lit("1998-06-01").cast("date")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- clustered compaction: the LAYOUT half of data skipping.
    //      The staged table commits orders in four key-hash batches,
    //      so price_cents is scattered uniformly across every file —
    //      each file's [min,max] spans the whole price domain and
    //      zone maps prune NOTHING (spec-asserted at the pre-cluster
    //      version). commitCluster then rewrites the live files
    //      range-partitioned by price_cents (one shuffle, pure
    //      reorganization, history intact), after which the SAME
    //      footer stats give each file a narrow non-overlapping price
    //      slice and the band read prunes most files from the
    //      manifest. This is OPTIMIZE/cluster-by in production table
    //      formats — at 100 TB the difference between "stats exist"
    //      and "stats help" is the layout, not the manifest. The
    //      oracle recomputes the band from the raw fact table, so a
    //      file pruned despite containing a match flips the hash.
    QueryDef.checked(
      "q_snapshot_cluster",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT)
        |  BETWEEN 10000000 AND 20000000
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = clusterStagedTable(spark, dir)
      val (lo, hi) = (10000000L, 20000000L) // the $100k..$200k band
      // the band prunes files by zone map at plan time, and rows
      t.asOf(t.version)
        .filter(col("price_cents").between(lo, hi))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- schema evolution: commits may ADD columns over time; reads
    //      with mergeSchema union the file schemas and fill
    //      pre-evolution rows with nulls — the additive-evolution
    //      contract every long-lived table needs (a 100 TB corpus is
    //      never rewritten because a pipeline started emitting one
    //      more field). The staged table appends v1 WITHOUT
    //      o_orderpriority and v2 WITH it; the oracle nulls the
    //      column exactly where the ingest hadn't evolved yet, so the
    //      hash convicts a read that loses old rows, misaligns the
    //      new column, or invents values for pre-evolution data.
    QueryDef.checked(
      "q_snapshot_schema_evolution",
      s"""WITH t AS (
         |  SELECT o_orderstatus AS st,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    CASE WHEN o_orderdate >= TIMESTAMP '$SeD1 00:00:00'
         |      THEN o_orderpriority END AS prio
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$SeD2 00:00:00'
         |)
         |SELECT st AS o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  count(prio) AS n_with_priority,
         |  count(DISTINCT prio) AS n_priorities
         |FROM t GROUP BY st ORDER BY st""".stripMargin) { (spark, dir) =>
      val t = seStagedTable(spark, dir)
      t.asOf(t.version, mergeSchema = true)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          count(col("o_orderpriority")).as("n_with_priority"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("o_orderstatus")
    },

    // ---- column mapping (RENAME / DROP COLUMN): metadata-only renames
    //      and drops over a table whose files, zone maps, and bloom
    //      sidecars are NEVER rewritten (physical names are the stable
    //      ids; the logical view is a per-version fold of colmap log
    //      entries). The fixture interleaves ingest with two renames —
    //      one of them the BLOOM column — and a drop; the result reads
    //      the CURRENT logical view next to a PRE-RENAME time travel,
    //      so the hash convicts a mapping that leaks into history, a
    //      rename that loses rows, or a drop that destroys data.
    //      In-query requires pin the scale half: the bloom sidecars
    //      (keyed by physical name) still prune point lookups on the
    //      RENAMED column, including through the ambient pruned scan
    //      (the pushed filter crosses the rename projection).
    QueryDef.checked(
      "q_snapshot_rename_col",
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    datediff('day', DATE '1970-01-01',
         |             CAST(o_orderdate AS DATE)) AS d,
         |    o_orderstatus
         |  FROM orders
         |)
         |SELECT 'current' AS era, o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  min(o_orderkey) AS min_id, max(o_orderkey) AS max_id,
         |  CAST(-1 AS BIGINT) AS n_scratch
         |FROM base GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'pre', o_orderstatus, count(*),
         |  CAST(sum(cents) AS BIGINT),
         |  min(o_orderkey), max(o_orderkey),
         |  count(DISTINCT o_orderkey % 7)
         |FROM base WHERE d < ${Wave8.days("1999-01-01")}
         |GROUP BY o_orderstatus
         |ORDER BY era, o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = rcStagedTable(spark, dir)
      val v = t.version
      require(v == 7, s"fixture must be 7 versions (got $v)")
      val cur = t.asOf(v, mergeSchema = true)
      require(Set("order_id", "price_cents").subsetOf(cur.columns.toSet) &&
        !cur.columns.exists(Set("o_orderkey", "cents", "scratch")),
        s"current view must speak the renamed schema: ${cur.columns.toSeq}")
      val pre = t.asOf(2)
      require(Set("o_orderkey", "cents", "scratch")
        .subsetOf(pre.columns.toSet),
        s"time travel must keep original names: ${pre.columns.toSeq}")
      // bloom sidecars survive the rename of their column (physical
      // key), and the pushed filter crosses the rename projection into
      // the manifest on the AMBIENT path
      val live = t.liveFiles(v).size
      require(t.pointLookupFiles(v, "order_id", Seq(11L, 97L, 123L))
        .size < live, "bloom prune must survive the rename")
      t.resetScanPrune()
      t.asOf(v).filter(col("order_id").isin(11L, 97L, 123L))
        .transform(localCheckpoint)
      val Some((scanned, _)) = t.lastScanPrune
      require(scanned < live,
        s"ambient prune through the rename failed: $scanned of $live")
      def agg(df: DataFrame, era: String, idCol: String,
          centsCol: String,
          nScratch: org.apache.spark.sql.Column): DataFrame = df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col(centsCol)).as("sum_cents"),
          min(col(idCol)).as("min_id"),
          max(col(idCol)).as("max_id"),
          nScratch.as("n_scratch"))
        .select(lit(era).as("era"), col("o_orderstatus"), col("n_rows"),
          col("sum_cents"), col("min_id"), col("max_id"),
          col("n_scratch"))
      agg(cur, "current", "order_id", "price_cents", max(lit(-1L)))
        .unionAll(agg(pre, "pre", "o_orderkey", "cents",
          countDistinct(col("scratch"))))
        .orderBy("era", "o_orderstatus")
    },

    // ---- IDENTITY columns (GENERATED ALWAYS AS IDENTITY): each
    //      identity append numbers its rows contiguously past the
    //      table's high watermark — an `idwm` log entry riding the SAME
    //      segment as the adds, so the allocator state is manifest
    //      metadata under the same CAS as the rows it numbers (a lost
    //      race RECOMPUTES ids against the new tip; identity appends
    //      are deliberately not rebase-eligible — their read set is the
    //      watermark). Within a batch the order is a caller-named
    //      unique key, which makes the full assignment
    //      row_number() OVER (ORDER BY batch, key) — the oracle
    //      replays it exactly; density requires in-query.
    QueryDef.checked(
      "q_snapshot_identity",
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CASE
         |      WHEN d < ${Wave8.days("1997-01-01")} THEN 0
         |      WHEN d < ${Wave8.days("1999-01-01")} THEN 1
         |      WHEN d < ${Wave8.days("2001-01-01")} THEN 2
         |      ELSE 3 END AS band
         |  FROM (SELECT o_orderkey, o_orderstatus,
         |          datediff('day', DATE '1970-01-01',
         |                   CAST(o_orderdate AS DATE)) AS d
         |        FROM orders)
         |), ids AS (
         |  SELECT o_orderstatus,
         |    row_number() OVER (ORDER BY band, o_orderkey) AS row_id
         |  FROM base
         |)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  min(row_id) AS min_id, max(row_id) AS max_id,
         |  CAST(sum(row_id) AS BIGINT) AS sum_id
         |FROM ids GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = identStagedTable(spark, dir)
      val cur = t.asOf(t.version)
      // density: ids are exactly 1..watermark, no gap, no dup
      val wm = t.identityWatermark("row_id")
      val Seq(n, nd, mx) = cur.agg(count(lit(1)),
        countDistinct(col("row_id")), max(col("row_id"))).collect()
        .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).head
      require(n == nd && mx == n && wm == n,
        s"identity not dense: n=$n distinct=$nd max=$mx wm=$wm")
      cur.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          min(col("row_id")).as("min_id"),
          max(col("row_id")).as("max_id"),
          sum(col("row_id")).cast("long").as("sum_id"))
        .orderBy("o_orderstatus")
    },

    // ---- write-audit-publish: the ingest quality gate as a STORAGE
    //      protocol, not a convention. A batch is staged (files land,
    //      recorded only in a branch manifest no read resolves),
    //      audited against exactly those files, and either published
    //      (re-stamped with the next version through the same
    //      put-if-absent segment CAS as any commit) or dropped without
    //      the table ever having seen it. Here a poisoned twin batch
    //      is staged, audited, and dropped; the good batch is staged,
    //      audited, and published — the oracle recomputes the final
    //      state from the fact table, so a leaked staged file, a lost
    //      publish, or a drop that removed the wrong bytes all flip
    //      the hash.
    QueryDef.checked(
      "q_snapshot_wap",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  count(DISTINCT o_orderkey) AS n_keys
         |FROM orders
         |WHERE o_orderdate < TIMESTAMP '$SeD2 00:00:00'
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = wapStagedTable(spark, dir)
      t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          countDistinct(col("o_orderkey")).as("n_keys"))
        .orderBy("o_orderstatus")
    },

    // ---- CDF tail consume: a NEW change-feed consumer that starts
    //      from a chosen version (`startingVersion`) instead of
    //      replaying the table's whole history — the production CDF
    //      default, and what makes the vacuum-lag contract operable
    //      (retention covers lag from the chosen start, not all time).
    //      The staged table has two appends and one COW delete;
    //      starting at version 2 must deliver EXACTLY commit 3: the
    //      deletes of every pre-COW click row and the reinserts of the
    //      surviving (cents ≤ 25000) clicks. The oracle recomputes
    //      that single commit by predicate algebra, so the hash
    //      convicts a replayed earlier commit (history not skipped) as
    //      loudly as a missed one.
    QueryDef.checked(
      "q_stream_cdf_tail",
      """WITH base AS (
        |  SELECT event_type AS et,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT 'delete' AS change, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE et = 'click'
        |UNION ALL
        |SELECT 'insert', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE et = 'click' AND cents <= 25000
        |ORDER BY change""".stripMargin) { (spark, dir) =>
      val t = Wave8.cdfStagedTable(spark, dir)
      val feed = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "event_type")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .option("startingVersion", (t.version - 1).toString)
        .load()
        .groupBy(col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_cents"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdft_ckpt_").toString
      val q = feed.writeStream.format("memory")
        .queryName("graft_stream_cdf_tail")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val out = spark.table("graft_stream_cdf_tail")
        .orderBy("change").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      out
    },

    // ---- AMBIENT file pruning (round 11): the same skipping
    //      q_snapshot_skipping_date (zone maps) and
    //      q_snapshot_point_lookup (blooms) rely on, here made
    //      correctness conditions — plain `asOf(v).filter(...)`
    //      DataFrames whose predicates reach
    //      the manifest at PLAN time through the snapshot FileIndex
    //      (`listFiles` consults zone maps + bloom sidecars; stock
    //      parquet vectorized scan + PushedFilters below it). Two
    //      probes in one result: a date band (ingest-clustered →
    //      range stats prune to ~commit 2's files) and an IN-list on
    //      the bloom-indexed key (uniform over ingest → range stats
    //      keep everything, membership prunes). In-query requires
    //      make BOTH prunes correctness conditions: the band must
    //      open fewer files than live, the point probe fewer still.
    //      The oracle recomputes both from the raw fact table, so a
    //      file wrongly dropped by either index flips the hash. This
    //      is the 100×-scale contract for READS: a user predicate —
    //      not a curated helper call — decides what gets opened.
    QueryDef.checked(
      "q_snapshot_pruned_read",
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    CAST(o_orderdate AS DATE) AS d
         |  FROM orders
         |)
         |SELECT 'band' AS probe, o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM base
         |WHERE d BETWEEN DATE '1997-06-01' AND DATE '1998-06-01'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'point', o_orderstatus, count(*),
         |  CAST(sum(cents) AS BIGINT),
         |  min(o_orderkey), max(o_orderkey)
         |FROM base
         |WHERE o_orderkey IN (${LookupKeys.mkString(", ")})
         |GROUP BY o_orderstatus
         |ORDER BY probe, o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = idxStagedTable(spark, dir)
      val v = t.version
      def agg(df: DataFrame, probe: String): DataFrame = df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .select(lit(probe).as("probe"), col("o_orderstatus"),
          col("n_rows"), col("sum_cents"), col("min_key"), col("max_key"))
      val band = agg(t.asOf(v).filter(
        col("o_date").between(lit("1997-06-01").cast("date"),
          lit("1998-06-01").cast("date"))), "band")
      val point = agg(t.asOf(v).filter(
        col("o_orderkey").isin(LookupKeys: _*)), "point")
      // prune proofs: ONE planning+execution pass per probe — the
      // eager localCheckpoint both triggers listFiles (recording the
      // prune telemetry) and materializes the probe's rows, so the
      // returned frame reads the cached blocks instead of executing
      // each probe a second time (the require pass used to double
      // this query's cost)
      t.resetScanPrune()
      val bandC = band.transform(localCheckpoint)
      val Some((bandScan, live)) = t.lastScanPrune
      require(bandScan < live,
        s"ambient date-range prune failed: $bandScan of $live")
      t.resetScanPrune()
      val pointC = point.transform(localCheckpoint)
      val Some((ptScan, _)) = t.lastScanPrune
      require(ptScan < live,
        s"ambient bloom prune failed: $ptScan of $live")
      bandC.unionAll(pointC).orderBy("probe", "o_orderstatus")
    },

    // ---- atomic REPLACE WHERE (round 11): the backfill /
    //      partition-reload shape — delete a region and land its
    //      recomputed twin in ONE commit, so no reader or change-feed
    //      consumer can ever observe the hole the old
    //      delete-then-append sequence exposed between its two
    //      versions. In-query requires pin the two halves of the
    //      contract: atomicity (the whole fixture is exactly 5
    //      versions — 4 appends + 1 replace) and blast radius (every
    //      file the replace removed was added by commit 2, the one
    //      ingest batch whose day range intersects the region —
    //      commits 1/3/4 carried by reference, unread). The oracle
    //      recomputes survivors ⊎ replacement from the raw fact
    //      table: a row replaced twice, a survivor lost, or a
    //      replacement row leaked outside the region all flip the
    //      hash.
    QueryDef.checked(
      "q_snapshot_replace_where",
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    datediff('day', DATE '1970-01-01',
         |             CAST(o_orderdate AS DATE)) AS d
         |  FROM orders
         |)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN d BETWEEN ${Wave8.days("1997-06-01")}
         |                       AND ${Wave8.days("1997-12-31")}
         |                THEN cents + 100 ELSE cents END) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM base
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = rwStagedTable(spark, dir)
      require(t.version == 5,
        s"replace-where must be ONE commit (got ${t.version} versions)")
      val rem = t.entries.filter(e =>
        e.version == 5 && e.action == "remove").map(_.path)
      val band = t.entries.filter(e =>
        e.version == 2 && e.action == "add").map(_.path).toSet
      require(rem.nonEmpty && rem.forall(band.contains),
        s"replace blast radius leaked past the banded commit: $rem")
      t.asOf(t.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- CDF wall-time start (round 11): `startingTimestamp` — the
    //      streaming twin of AS-OF-TIMESTAMP: the consumer names an
    //      instant, the source resolves it ONCE at stream start to
    //      the first commit published at or after it (each segment
    //      carries its publish stamp as a meta entry — manifest fold,
    //      no data touched). Here the instant is the final commit's
    //      own stamp, so the feed must deliver EXACTLY that commit —
    //      the same slice q_stream_cdf_tail selects by version number
    //      — and the oracle recomputes it by predicate algebra: a
    //      resolution off by one version replays the prior commit's
    //      inserts or drops the deletes, flipping the hash either way.
    QueryDef.checked(
      "q_stream_cdf_since",
      """WITH base AS (
        |  SELECT event_type AS et,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT 'delete' AS change, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE et = 'click'
        |UNION ALL
        |SELECT 'insert', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE et = 'click' AND cents <= 25000
        |ORDER BY change""".stripMargin) { (spark, dir) =>
      val t = Wave8.cdfStagedTable(spark, dir)
      val since = t.publishTimestamp(t.version)
      val feed = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root)
        .option("partCol", "event_type")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .option("startingTimestamp", since.toString)
        .load()
        .groupBy(col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_cents"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdfs_ckpt_").toString
      val q = feed.writeStream.format("memory")
        .queryName("graft_stream_cdf_since")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val out = spark.table("graft_stream_cdf_since")
        .orderBy("change").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      out
    },

    // ---- Z-ORDER clustering (round 11): q_snapshot_cluster's 1-D
    //      range layout makes ONE column prune and leaves every other
    //      scattered; interleaving two columns' bucket bits into a
    //      z-value gives each file ≈ a RECTANGLE of (price, day)-space,
    //      so the same per-file zone maps prune on BOTH — the
    //      OPTIMIZE ZORDER move, and the layout for the commonest
    //      analytical shape there is (time range × value band). The
    //      fixture scatters both columns across every file by key
    //      hash (in-query requires prove the PRE-cluster stats prune
    //      NOTHING on either dimension, post-cluster both prune), and
    //      the rectangle aggregate reads through the AMBIENT pruned
    //      scan — plain filters, no helpers. Oracle = full-scan
    //      recompute; reorganization correctness (no row lost or
    //      doubled by the rewrite) is exactly what the hash checks.
    QueryDef.checked(
      "q_snapshot_zorder",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE CAST(round(o_totalprice * 100) AS BIGINT)
         |        BETWEEN 10000000 AND 20000000
         |  AND datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |        BETWEEN ${Wave8.days("1996-01-01")}
         |            AND ${Wave8.days("1997-12-31")}
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = zStagedTable(spark, dir)
      val v = t.version
      val live = t.liveFiles(v).size
      val (loP, hiP) = (10000000L, 20000000L)
      val (loD, hiD) = (Wave8.days("1996-01-01"), Wave8.days("1997-12-31"))
      // the layout claim, both halves: pre-cluster (v4) stats keep
      // everything on each dimension; post-z-order each prunes alone
      val pre = v - 1
      val priceBand = KeyRange.Longs("price_cents", loP, hiP)
      val dayBand = KeyRange.Longs("o_date_days", loD, hiD)
      require(t.pruneFiles(pre, priceBand).size ==
        t.liveFiles(pre).size, "fixture must scatter price pre-cluster")
      require(t.pruneFiles(pre, dayBand).size ==
        t.liveFiles(pre).size, "fixture must scatter days pre-cluster")
      require(t.pruneFiles(v, priceBand).size < live,
        "z-order must make the price dimension prune")
      require(t.pruneFiles(v, dayBand).size < live,
        "z-order must make the day dimension prune")
      val rect = t.asOf(v)
        .filter(col("price_cents").between(loP, hiP) &&
          col("o_date_days").between(loD, hiD))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
      t.resetScanPrune()
      // eager checkpoint: one execution records the prune telemetry
      // AND materializes the result the query returns
      val rectC = rect.transform(localCheckpoint)
      val Some((scanned, _)) = t.lastScanPrune
      require(scanned < live,
        s"ambient rectangle prune failed: $scanned of $live")
      rectC
    },

    // ---- zero-copy snapshot CLONE (round 11): the engine-native form
    //      of the reference's core operation — clone_databases.sh:
    //      220-253 clones a database by dumping and re-loading every
    //      row; here the clone is one hard link per live file plus a
    //      manifest commit (zero data bytes moved at ANY table size),
    //      with zone-map stats carried verbatim and DV bindings
    //      re-emitted. The fixture diverges the clone (one status
    //      partition dropped, metadata-only) and the query proves the
    //      isolation BOTH ways: the oracle hashes the clone's
    //      diverged content, the in-query require pins the SOURCE's
    //      row count unchanged — a clone that shared manifest state,
    //      or a divergence that leaked through the shared inodes,
    //      fails one side or the other.
    QueryDef.checked(
      "q_snapshot_clone",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val clone = cloneStagedTable(spark, dir)
      val src = idxStagedTable(spark, dir)
      // divergence isolation: the clone's partition drop must be
      // invisible to the source (hard links, independent manifests)
      val raw = spark.read.parquet(s"$dir/orders.parquet").count()
      require(src.asOf(src.version).count() == raw,
        "the clone's divergence leaked into the source table")
      require(clone.version == 2,
        s"clone + divergence must be exactly 2 commits (${clone.version})")
      clone.asOf(clone.version)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    // ---- TYPE WIDENING (round 13): `k` committed as INT, widened to
    //      BIGINT by a metadata-only commit, then appended with values
    //      past the INT32 range — readers upcast narrow footers
    //      in-reader (no rewrite), and the in-query requires pin the
    //      verdict's exact scale case: an INT64 zone-map probe prunes
    //      the INT32-era files (their long-folded stats bound them out)
    //      while the result hashes against a full recompute.
    QueryDef.checked(
      "q_snapshot_type_widening",
      """WITH cut AS (SELECT max(o_orderkey) // 2 AS c FROM orders)
        |SELECT o_orderstatus AS part, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey < cut.c THEN o_orderkey
        |    ELSE o_orderkey + 10000000000 END) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders, cut
        |GROUP BY part
        |ORDER BY part""".stripMargin) { (spark, dir) =>
      val t = evoStagedTable(spark, dir)
      require(t.asOf(4).schema("k").dataType ==
        org.apache.spark.sql.types.LongType,
        "widened column must surface as BIGINT")
      // INT32-era stats vs an INT64 probe: only post-widening files
      // can contain keys past 10^10
      val live = t.liveFiles(4)
      val pruned = t.pruneFiles(4,
        KeyRange.Longs("k", 10000000000L, Long.MaxValue))
      require(pruned.nonEmpty && pruned.size < live.size,
        s"INT64 probe must prune the INT32-era files " +
          s"(${pruned.size} of ${live.size} survived)")
      t.asOf(4)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_k"),
          sum("cents").as("sum_cents"))
        .orderBy("part")
    },

    // ---- DEFAULT columns (round 13): `score` added with DEFAULT 7
    //      AFTER the first commit — pre-evolution rows read the
    //      default (their footers predate the column, per the
    //      manifest's own stats entries), post-evolution rows carry
    //      real values INCLUDING real NULLs that must never be
    //      overwritten; the oracle recomputes the same CASE from the
    //      raw table, so a fill that leaks into carrying files (or a
    //      lost fill) flips the hash.
    QueryDef.checked(
      "q_snapshot_default_col",
      """WITH cut AS (SELECT max(o_orderkey) // 2 AS c FROM orders),
        |scored AS (
        |  SELECT o_orderstatus AS part,
        |    CASE WHEN o_orderkey < cut.c THEN 7
        |         WHEN o_orderkey % 10 = 0 THEN NULL
        |         ELSE o_orderkey % 100 END AS score
        |  FROM orders, cut)
        |SELECT part, count(*) AS n_rows,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null
        |FROM scored
        |GROUP BY part
        |ORDER BY part""".stripMargin) { (spark, dir) =>
      val t = evoStagedTable(spark, dir)
      t.asOf(4)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"),
          sum("score").as("sum_score"),
          sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_null"))
        .orderBy("part")
    }
  )
}
