package graft

import org.apache.spark.sql.functions._
import graft.operators.{FileIndex, Wave8}
import graft.sources.KeyRange

/** Invariants for the file-index wave: the oracle proves value
  * equality; these prove the SKIPPING is real (files actually pruned)
  * and honest (never a file that could have matched). */
class FileIndexSpec extends SparkSpec {

  test("bloom index prunes point lookups where zone maps cannot") {
    q("q_snapshot_point_lookup").collect() // force the staged build
    val t = FileIndex.idxStagedTable(spark, sf)
    val all = t.liveFiles(t.version)
    // o_orderkey is uniform over ingest time: every file's [min,max]
    // spans ~the whole domain, so the RANGE prune keeps everything...
    val byRange = t.pruneFiles(t.version, KeyRange.Longs("o_orderkey", 11L, 123L))
    assert(byRange.size == all.size, "range stats should not help here")
    // ...and the bloom MEMBERSHIP prune skips most files
    val byBloom = t.pointLookupFiles(t.version, "o_orderkey",
      Seq(11L, 97L, 123L))
    assert(byBloom.nonEmpty && byBloom.size < all.size,
      s"bloom kept ${byBloom.size} of ${all.size}")
    // every live file carries a sidecar (no conservative keeps hiding
    // a broken index build)
    all.foreach { p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${t.root}/index/$p.o_orderkey.bloom")), s"missing sidecar: $p")
    }
    // no false negatives: the files containing the keys all survive
    val seg = split(input_file_name(), "/")
    val truth = t.asOf(t.version)
      .filter(col("o_orderkey").isin(11L, 97L, 123L))
      .select(concat_ws("/", element_at(seg, -2), element_at(seg, -1)))
      .distinct().collect().map(_.getString(0)).toSet
    assert(truth.subsetOf(byBloom.toSet))
    // a key that exists nowhere keeps ~no files (FPR-bounded, not 0)
    val ghost = t.pointLookupFiles(t.version, "o_orderkey",
      Seq(10000000L))
    assert(ghost.size < all.size / 2, s"ghost kept ${ghost.size}")
  }

  test("date zone maps skip every non-intersecting commit") {
    q("q_snapshot_skipping_date").collect() // force the staged build
    val t = FileIndex.idxStagedTable(spark, sf)
    val (lo, hi) = (Wave8.days("1997-06-01"), Wave8.days("1998-06-01"))
    val all = t.liveFiles(t.version)
    val pruned = t.pruneFiles(t.version, KeyRange.Longs("o_date", lo, hi))
    // the [97-06, 98-06] window lies inside commit 2's [97-01, 99-01)
    // batch: only v2- files survive
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(pruned.forall(_.contains("/v2-")))
    // every file carries date stats (INT32/date covered, not just i64)
    assert(all.forall(p => t.zoneMaps.get(p).exists(_.contains("o_date"))))
  }

  test("vacuum and orphan cleanup reclaim bloom sidecars with the data") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_bloomvac_spec_").toString
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    t.commitAppend((1L to 50L).map(k => (k, "a", k)).toDF("k", "part", "v"),
      "part")
    val f1 = t.liveFiles(1)
    f1.foreach(p => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/index/$p.k.bloom"))))
    // compact (removes v1 files), vacuum at retention 0: the reclaimed
    // data files take their sidecars with them
    t.commitCompact("part")
    val reclaimed = t.vacuum(retainVersions = 0)
    assert(reclaimed.toSet == f1.toSet)
    f1.foreach(p => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/index/$p.k.bloom"))))
    // the compacted file got its own sidecar and still prunes
    val live = t.liveFiles(t.version)
    assert(t.pointLookupFiles(t.version, "k", Seq(7L)) == live)
    assert(t.pointLookupFiles(t.version, "k", Seq(999999L)).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("string blooms prune point lookups and MOR deletes past range stats") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_strbloom_spec_").toString
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("doc_id"))
    // hash-shaped string ids (the real erasure-queue key shape):
    // uncorrelated with ingest order, so every file's lexicographic
    // [min, max] spans ~the whole domain and range stats prune nothing
    def did(i: Int): String = f"doc-${(i * 2654435761L) % 100000}%05d"
    (0 until 4).foreach { j =>
      t.commitAppend((0 until 1000).filter(_ % 4 == j)
        .map(i => (did(i), "x", i.toLong)).toDF("doc_id", "part", "v")
        .coalesce(1), "part")
    }
    val all = t.liveFiles(t.version)
    assert(all.size == 4)
    val probe = Seq(did(11), did(222))
    // range stats keep everything...
    val byRange = t.pruneFiles(t.version, KeyRange.Strings("doc_id",
      probe.min, probe.max))
    assert(byRange.size == all.size, "range stats should not help here")
    // ...bloom membership prunes to ~the files holding the ids
    val byBloom = t.pointLookupFilesStr(t.version, "doc_id", probe)
    assert(byBloom.nonEmpty && byBloom.size < all.size,
      s"bloom kept ${byBloom.size} of ${all.size}")
    // no false negatives
    val seg = split(input_file_name(), "/")
    val truth = t.asOf(t.version)
      .filter(col("doc_id").isin(probe: _*))
      .select(concat_ws("/", element_at(seg, -2), element_at(seg, -1)))
      .distinct().collect().map(_.getString(0)).toSet
    assert(truth.subsetOf(byBloom.toSet))
    // the write path: a sparse STRING-key MOR delete scans fewer
    // candidate files with blooms than the (useless) range pass alone
    t.commitDeleteKeysMor(probe.toDF("doc_id"), "doc_id")
    val Some((cand, live)) = t.lastMergeScan
    assert(cand < live, s"string bloom did not prune: $cand of $live")
    assert(t.asOfMor(t.version)
      .filter(col("doc_id").isin(probe: _*)).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("timestamp keys prune merge candidates via micros zone maps") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_tskey_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // three day-batches of event-time-keyed rows (the CDC-by-event-time
    // shape); TIMESTAMP must land as INT64 micros so footer stats exist
    def day(d: Int, i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2021-01-0${d}T00:00:00Z")
        .plusSeconds(i.toLong))
    (1 to 3).foreach { d =>
      t.commitAppend((0 until 100).map(i => (day(d, i), "x", i.toLong))
        .toDF("ts", "part", "v").coalesce(1), "part")
    }
    assert(t.liveFiles(3).forall(p =>
      t.zoneMaps.get(p).exists(_.contains("ts"))),
      "timestamp columns must carry footer zone maps (INT64 micros)")
    // a merge carrying only day-2 keys must scan ~day 2's file
    val src = (0 until 100 by 10).map(i => (day(2, i), "x", 1000L + i))
      .toDF("ts", "part", "v")
    t.commitMerge(src, "part", "ts")
    val Some((cand, live)) = t.lastMergeScan
    assert(cand < live, s"timestamp zone maps did not prune: $cand of $live")
    // and the merge semantics held: updated rows carry the new value
    assert(t.asOf(t.version).filter(col("v") === 1000L).count() == 1)
    assert(t.asOf(t.version).count() == 300)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("decimal keys prune merge candidates via unscaled zone maps") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_deckey_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // DECIMAL(12,2) keys in three tight bands: parquet stores the
    // UNSCALED value as INT64 with stats, so the probe (decimal-exact
    // scale widening) must hit only the matching band's file
    def band(lo: Int): org.apache.spark.sql.DataFrame =
      (lo until lo + 100).map(i => (i.toLong, "x"))
        .toDF("i", "part")
        .select(col("i").cast("decimal(12,2)").as("k"),
          col("part"), col("i").as("v"))
        .coalesce(1)
    Seq(0, 1000, 2000).foreach(lo => t.commitAppend(band(lo), "part"))
    val src = (1000 until 1100 by 10).map(i => (i.toLong, "x"))
      .toDF("i", "part")
      .select(col("i").cast("decimal(12,2)").as("k"),
        col("part"), (col("i") + 100000L).as("v"))
    t.commitMerge(src, "part", "k")
    val Some((cand, live)) = t.lastMergeScan
    assert(cand < live, s"decimal zone maps did not prune: $cand of $live")
    assert(t.asOf(t.version).count() == 300)
    assert(t.asOf(t.version).filter(col("v") >= 100000L).count() == 10)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("clustering turns useless stats into real skipping") {
    q("q_snapshot_cluster").collect() // force the staged build
    val t = FileIndex.clusterStagedTable(spark, sf)
    val (lo, hi) = (10000000L, 20000000L)
    // pre-cluster (version 4): price scattered by the key-hash ingest,
    // every file's [min,max] spans the band — stats prune NOTHING
    val pre = t.pruneFiles(4, KeyRange.Longs("price_cents", lo, hi))
    assert(pre.size == t.liveFiles(4).size, "scattered layout must not prune")
    // post-cluster: narrow per-file slices — the same stats now skip
    val post = t.pruneFiles(t.version, KeyRange.Longs("price_cents", lo, hi))
    assert(post.nonEmpty && post.size < t.liveFiles(t.version).size,
      s"kept ${post.size} of ${t.liveFiles(t.version).size}")
    // pure reorganization: row identity across the cluster commit
    val before = t.asOf(4).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("s"))
      .collect().map(_.toSeq).toSet
    val after = t.asOf(t.version).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("s"))
      .collect().map(_.toSeq).toSet
    assert(before == after)
  }

  test("schema evolution: old rows null the new column, nothing lost") {
    q("q_snapshot_schema_evolution").collect() // force the staged build
    val t = FileIndex.seStagedTable(spark, sf)
    // version 1 predates the column entirely
    assert(!t.asOf(1).columns.contains("o_orderpriority"))
    // merged read: nulls EXACTLY on the pre-evolution rows
    val merged = t.asOf(2, mergeSchema = true)
    val n1 = t.asOf(1).count()
    assert(merged.filter(col("o_orderpriority").isNull).count() == n1)
    assert(merged.count() > n1)
    // and no column misalignment: evolved rows carry real priorities
    assert(merged.filter(col("o_orderpriority").isNotNull)
      .select("o_orderpriority").distinct().count() >= 2)
  }

  test("withRetry: a racing writer lands on the next version") {
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_retry_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val other = new SnapshotLog.Table(spark, root)
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus")).limit(50)
    t.commitAppend(df, "o_orderstatus")
    // writer A plans against v1; writer B commits v2 under A's feet on
    // A's FIRST attempt; the retry re-reads and lands at v3
    var interfered = false
    val landed = t.withRetry() { expected =>
      if (!interfered) { interfered = true; other.commitAppend(df, "o_orderstatus") }
      t.commitAppend(df, "o_orderstatus", expectedVersion = expected)
    }
    assert(landed == 3 && t.version == 3)
    assert(t.asOf(3).count() == 150) // all three appends present
    // bounded: exhausted retries surface the conflict
    intercept[java.util.ConcurrentModificationException] {
      t.withRetry(maxAttempts = 2) { _ =>
        throw new java.util.ConcurrentModificationException("always")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("range delete: blast radius is the zone-map candidate set") {
    q("q_snapshot_delete_range").collect() // force the staged build
    val t = FileIndex.drStagedTable(spark, sf)
    // the delete commit = the last version with remove entries (the
    // staged fixture is shared and append-only across spec runs)
    val dv = t.entries.filter(_.action == "remove").map(_.version).max
    val es = t.entries.filter(_.version == dv)
    // the 97-06..97-12 band lies inside commit 2's [97-01, 99-01)
    // batch: ONLY v2- files were rewritten; 1/3/4 carried over unread
    val removes = es.filter(_.action == "remove")
    assert(removes.nonEmpty && removes.forall(_.path.contains("/v2-")))
    assert(es.filter(_.action == "add").forall(_.path.contains(s"/v$dv-")))
    // row accounting: survivors = pre-delete minus the band
    val pre = t.asOf(dv - 1)
    val (lo, hi) = (Wave8.days("1997-06-01"), Wave8.days("1997-12-31"))
    val band = pre.filter(col("o_date_days").between(lo, hi)).count()
    assert(band > 0)
    assert(t.asOf(dv).count() == pre.count() - band)
    assert(t.asOf(dv)
      .filter(col("o_date_days").between(lo, hi)).count() == 0)
    // a range no file can contain: honest no-op commit, fold
    // unchanged — on a SCRATCH table (the staged fixture is shared;
    // mutating it would shift later runs' version numbering)
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_droprange_nop_").toString
    val s = new SnapshotLog.Table(spark, root)
    s.commitAppend(Seq((1L, "a", 5L)).toDF("k", "part", "v"), "part")
    val nop = s.commitDeleteRange("part", KeyRange.Longs("v", -99L, -90L))
    assert(nop == 2)
    assert(s.entries.filter(e => e.version == nop &&
      (e.action == "add" || e.action == "remove")).isEmpty)
    assert(s.asOf(nop).count() == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("log checkpoint: reads go O(tail), history and stats survive") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_ckptlog_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 40L).map(k => (k, "a", k)).toDF("k", "part", "v"),
      "part")
    t.commitAppend((41L to 80L).map(k => (k, "a", k)).toDF("k", "part", "v"),
      "part")
    t.commitDeleteRange("part", KeyRange.Longs("k", 10L, 20L))
    val es0 = t.entries
    val live0 = t.liveFiles(t.version)
    // checkpoint consolidates verbatim: entries identical
    assert(t.checkpointLog() == 3)
    assert(t.entries == es0)
    // the covered segments are redundant and reclaimable
    val dropped = t.vacuumLog()
    assert(dropped == Seq(1, 2, 3))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log/1.csv")))
    // reads, version, zone maps, and the change-feed history all
    // survive on the checkpoint alone
    assert(t.version == 3)
    assert(t.entries == es0)
    assert(t.liveFiles(3) == live0)
    assert(t.asOf(3).filter(col("k").between(10L, 20L)).count() == 0)
    assert(t.pruneFiles(3, KeyRange.Longs("k", 1L, 5L)).size <
      live0.size + 1) // stats live
    assert(t.entries.exists(e => e.version == 1 && e.action == "add"))
    // the log keeps working past the checkpoint
    t.commitAppend(Seq((100L, "a", 100L)).toDF("k", "part", "v"), "part")
    assert(t.version == 4 && t.asOf(4).count() == t.asOf(3).count() + 1)
    // idempotent re-checkpoint at a new version; the superseded
    // checkpoint is reclaimed with the covered segment
    assert(t.checkpointLog() == 4)
    assert(t.vacuumLog() == Seq(4))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log/3.ckpt")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log/4.ckpt")))
    assert(t.asOf(4).count() == 80L - 11L + 1L) // appends − band + late row
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("write-audit-publish: staged batches are invisible until published") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_wap_spec_").toString
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    t.commitAppend((1L to 30L).map(k => (k, "a", k)).toDF("k", "part", "v"),
      "part")
    val n1 = t.asOf(1).count()
    // stage: files land, nothing logical changes
    t.stageAppend((31L to 40L).map(k => (k, "a", k)).toDF("k", "part", "v"),
      "part", "br1")
    assert(t.version == 1 && t.asOf(1).count() == n1)
    // staged files are known, not orphans — cleanOrphans must not eat
    // an in-flight WAP batch
    assert(t.orphanFiles().isEmpty)
    // audit reads exactly the staged rows
    assert(t.stagedRead("br1").count() == 10)
    // double-stage on the same branch is refused
    intercept[IllegalArgumentException] {
      t.stageAppend(Seq((99L, "a", 9L)).toDF("k", "part", "v"),
        "part", "br1")
    }
    // publish: the batch becomes one real commit, CAS-protected
    val v2 = t.publishStaged("br1")
    assert(v2 == 2 && t.asOf(2).count() == n1 + 10)
    assert(t.entries.exists(e => e.version == 2 && e.action == "stats"))
    // published batches get their bloom sidecars like any commit
    t.liveFiles(2).filter(_.contains(s"/bbr1-")).foreach(p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/index/$p.k.bloom"))))
    // drop path: a rejected batch vanishes without a version
    t.stageAppend(Seq((777L, "a", 7L)).toDF("k", "part", "v"),
      "part", "bad")
    val dropped = t.dropStaged("bad")
    assert(dropped.nonEmpty && t.version == 2)
    assert(t.asOf(2).filter(col("k") === 777L).count() == 0)
    assert(t.orphanFiles().isEmpty) // drop reclaimed the bytes
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("WAP under concurrency: publish lands after interleaved commits") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_wapc_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val other = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "a", 1L)).toDF("k", "part", "v"), "part")
    // two branches staged against version 1
    t.stageAppend(Seq((10L, "a", 10L)).toDF("k", "part", "v"), "part", "x")
    t.stageAppend(Seq((20L, "a", 20L)).toDF("k", "part", "v"), "part", "y")
    // a THIRD writer commits normally while both sit staged
    other.commitAppend(Seq((2L, "a", 2L)).toDF("k", "part", "v"), "part")
    // each publish re-stamps to the version current AT PUBLISH TIME
    val vx = t.publishStaged("x")
    val vy = t.publishStaged("y")
    assert(vx == 3 && vy == 4)
    // entries carry the re-stamped versions, including their stats
    assert(t.entries.filter(_.version == vx).exists(_.action == "add"))
    assert(t.entries.filter(_.version == vx).exists(_.action == "stats"))
    assert(t.asOf(4).count() == 4)
    // zone maps recorded at stage time survive re-stamping: the
    // k=20 batch's file is prunable by range
    val hit = t.pruneFiles(4, KeyRange.Longs("k", 20L, 20L))
    assert(hit.exists(_.contains("by-")) && hit.size < t.liveFiles(4).size)
    // time travel: version 2 (the interleaved commit) never saw
    // either staged batch
    assert(t.asOf(2).count() == 2)
    // a stale expectedVersion on publish fails loudly, batch intact
    t.stageAppend(Seq((30L, "a", 30L)).toDF("k", "part", "v"), "part", "z")
    intercept[java.util.ConcurrentModificationException] {
      t.publishStaged("z", expectedVersion = 1)
    }
    assert(t.stagedRead("z").count() == 1) // still publishable
    assert(t.withRetry()(exp => t.publishStaged("z", exp)) == 5)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("timestamp travel resolves to the last commit at or before t") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_ts_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val t0 = System.currentTimeMillis
    Thread.sleep(5)
    t.commitAppend(Seq((1L, "a", 1L)).toDF("k", "part", "v"), "part")
    Thread.sleep(5)
    val t1 = System.currentTimeMillis
    Thread.sleep(5)
    t.commitAppend(Seq((2L, "a", 2L)).toDF("k", "part", "v"), "part")
    Thread.sleep(5)
    val t2 = System.currentTimeMillis
    assert(t.versionAsOfTimestamp(t1) == 1)
    assert(t.versionAsOfTimestamp(t2) == 2)
    assert(t.asOfTimestamp(t1).count() == 1)
    assert(t.asOfTimestamp(t2).count() == 2)
    // before the table existed: loud failure, never version 1
    intercept[IllegalArgumentException] { t.versionAsOfTimestamp(t0) }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("cdf rate limit: a backlog drains one commit per micro-batch") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft_cdfrl_")
    val t = new SnapshotLog.Table(spark, base.resolve("tbl").toString)
    (1 to 3).foreach { i =>
      t.commitAppend(Seq((i.toLong, "a", i.toLong))
        .toDF("k", "part", "v"), "part")
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream
      .format("graft.sources.SnapshotCdfSource")
      .option("path", t.root).option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch {
        (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!bdf.isEmpty)
            batches.add(bdf.select("_version").distinct()
              .collect().map(_.getLong(0)).toSeq.sorted)
          ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // the 3-commit backlog arrives as 3 single-commit batches, in order
    assert(got == Seq(Seq(1L), Seq(2L), Seq(3L)), got.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("TIMESTAMP_NTZ keys prune zone-free in a non-UTC session") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    // parquet NTZ stats store WALL-CLOCK micros (isAdjustedToUTC=false);
    // a probe that routes through cast-to-timestamp picks up the
    // session zone and shifts by the offset — under Asia/Tokyo (+9h) it
    // would probe day-2 keys against a day-1-ish range, prune the only
    // file that holds the victims, and the merge would insert fresh
    // rows NEXT TO the stale ones (duplicate keys, lost update).
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "Asia/Tokyo")
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ntzkey_spec_").toString
      val t = new SnapshotLog.Table(spark, root)
      def day(d: Int, i: Int): java.time.LocalDateTime =
        java.time.LocalDateTime.of(2021, 1, d, 0, 0, 0).plusSeconds(i)
      (1 to 3).foreach { d =>
        t.commitAppend((0 until 100).map(i => (day(d, i), "x", i.toLong))
          .toDF("ts", "part", "v").coalesce(1), "part")
      }
      assert(t.liveFiles(3).forall(p =>
        t.zoneMaps.get(p).exists(_.contains("ts"))),
        "NTZ columns must carry footer zone maps (INT64 wall micros)")
      val src = (0 until 100 by 10).map(i => (day(2, i), "x", 1000L + i))
        .toDF("ts", "part", "v")
      t.commitMerge(src, "part", "ts")
      val Some((cand, live)) = t.lastMergeScan
      assert(cand < live, s"NTZ zone maps did not prune: $cand of $live")
      // the correctness half: a zone-SHIFTED probe would have pruned
      // the victims' file and left 310 rows with duplicate keys
      assert(t.asOf(t.version).count() == 300,
        "zone-shifted probe resurrected stale rows beside the upserts")
      assert(t.asOf(t.version).filter(col("v") === 1000L).count() == 1)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
    } finally spark.conf.set(tzKey, prevTz)
  }

  test("reclaim guard distinguishes covered commit from reclaimed version") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    // the false-positive shape: writer binds v.csv; a concurrent
    // committer checkpoints past v and vacuums it BEFORE the writer's
    // post-bind guard runs. The guard must recognize "my entries live
    // verbatim in the checkpoint" (durable — success, no retry) vs "a
    // different winner's v is in the checkpoint" (reclaimed — throw),
    // or withRetry lands the same batch twice.
    val root = java.nio.file.Files
      .createTempDirectory("graft_guard_spec_").toString
    val t = new SnapshotLog.Table(spark, root,
      autoCheckpointEvery = 0) // manual checkpoint control
    t.commitAppend(Seq((1L, "a")).toDF("k", "part"), "part")
    t.commitAppend(Seq((2L, "a")).toDF("k", "part"), "part")
    val mine = t.entries.filter(_.version == 2)
    t.checkpointLog()
    t.vacuumLog()
    // covered: the checkpoint carries exactly my lines at v=2
    assert(t.segmentObservedInCheckpoint(2, mine),
      "a covered commit must be recognized as durable, not re-tried")
    // reclaimed: a different writer's lines at v=2 do NOT match
    val other = mine.map(e =>
      e.copy(path = e.path.replace("v2-", "v2-other-")))
    assert(!t.segmentObservedInCheckpoint(2, other),
      "a reclaimed version must still surface as a collision")
    // and versions past the checkpoint never match (not covered)
    assert(!t.segmentObservedInCheckpoint(3, mine))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("restore fails loudly when a re-bound DV sidecar was vacuumed") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvres_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 40L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                       // v1
    t.commitDeleteKeysMor(Seq(4L).toDF("k"), "k") // v2: binding A
    t.commitDeleteKeysMor(Seq(8L).toDF("k"), "k") // v3: binding B supersedes A
    // age binding A out: its window [v2, v3) closes at v3 <= horizon.
    // Data files are never removed here, so they all survive — exactly
    // the case where the data-file existence check alone passes.
    t.vacuum(0)
    val e = intercept[IllegalArgumentException](t.commitRestore(2))
    assert(e.getMessage.contains("sidecar"), e.getMessage)
    // restoring to the CURRENT binding still works (B is alive)
    t.commitRestore(3)
    assert(t.asOfMor(t.version).count() == 38)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("scanAsOf: any reader predicate prunes files at plan time") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_scan_spec_").toString
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    // three date-band commits; keys are UNIFORM across bands (k % 3
    // decides the band), so key zone maps span the domain in every
    // file and only the bloom sidecar can prune a point lookup —
    // while the date column is ingest-clustered and range-prunes
    def d(day: Int) = java.sql.Date.valueOf(f"2021-01-$day%02d")
    (0 until 3).foreach { b =>
      t.commitAppend((0L until 90L).filter(_ % 3 == b)
        .map(k => (k, d(b * 7 + 1), if (k % 2 == 0) "x" else "y"))
        .toDF("k", "day", "part").coalesce(1), "part")
    }
    val v = t.version
    val full = t.asOf(v).select("k", "day", "part")
      .collect().map(_.toSeq).toSet
    val live = t.liveFiles(v).size

    // 0. planning statuses come from the manifest: every live file's
    //    recorded fsize matches its physical length (a drifted size
    //    would mis-split or truncate the scan)
    val sizes = t.fileSizes
    t.liveFiles(v).foreach { rel =>
      val phys = new java.io.File(s"$root/data/$rel").length
      assert(sizes.get(rel).contains(phys),
        s"manifest fsize for $rel: ${sizes.get(rel)} != $phys")
    }

    // 1. unfiltered parity: same rows as asOf, nothing pruned
    t.resetScanPrune()
    assert(t.scanAsOf(v).select("k", "day", "part")
      .collect().map(_.toSeq).toSet == full)

    // 2. date range: a PLAIN filter prunes to band 2's files
    val band = t.scanAsOf(v).filter(col("day") >= lit(d(8)) &&
      col("day") <= lit(d(10))).select("k", "day", "part")
    t.resetScanPrune()
    val bandRows = band.collect().map(_.toSeq).toSet
    val Some((s1, l1)) = t.lastScanPrune
    assert(s1 < l1 && l1 == live, s"date range did not prune: $s1/$l1")
    assert(bandRows == full.filter(r =>
      { val dy = r(1).asInstanceOf[java.sql.Date]
        !dy.before(d(8)) && !dy.after(d(10)) }))

    // 3. point lookup on the bloom-indexed key: range stats keep
    //    everything (uniform keys), the bloom prunes below live
    val pt = t.scanAsOf(v).filter(col("k") === 42L)
    t.resetScanPrune()
    assert(pt.count() == 1)
    val Some((s2, l2)) = t.lastScanPrune
    assert(s2 < live, s"bloom point prune failed: $s2/$l2")

    // 4. partition filter: exact (Spark trusts listFiles and drops
    //    the predicate from the residual — extra files = wrong ROWS)
    val px = t.scanAsOf(v).filter(col("part") === "x")
    assert(px.collect().map(_.getAs[Long]("k")).forall(_ % 2 == 0))
    assert(px.count() == full.count(_(2) == "x"))

    // 5. unsupported predicate shapes degrade to keep-all, not wrong
    assert(t.scanAsOf(v).filter(col("k") % 7 === 0).count() ==
      full.count(_(0).asInstanceOf[Long] % 7 == 0))

    // 6. IN-list routes through range + bloom and stays exact
    assert(t.scanAsOf(v).filter(col("k").isin(3L, 42L, 8888L))
      .count() == 2)

    // 7. tag / timestamp addressing resolves to the same pruned scan
    t.commitTagVersion("ga", v)
    assert(t.scanAsOfTag("ga").count() == 90)
    assert(t.scanAsOfTimestamp(t.publishTimestamp(v)).count() == 90)

    // 8. adversarial shapes stay conservative AND correct: a cast on
    //    the attribute (no bare AttributeReference to match), an OR
    //    (one non-conjunct), and a negation
    assert(t.scanAsOfTag("ga").filter(col("k").cast("int") === 42)
      .count() == 1)
    assert(t.scanAsOfTag("ga").filter(col("k") === 43L ||
      col("day") === lit(d(1))).count() == 31) // 43 is in band 1
    assert(t.scanAsOfTag("ga").filter(!(col("k") < 45L)).count() == 45)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("replace-where: one version, pruned blast radius, honest feed") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_rw_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // three value-band commits — the backfill target is band 2
    (0 to 2).foreach { b =>
      t.commitAppend((0L until 50L).map(i => (b * 100L + i, "x"))
        .toDF("v", "part").coalesce(1), "part")
    }
    val repl = (100L to 120L).map(v => (v, "x")).toDF("v", "part")
    val v0 = t.version
    t.commitReplaceWhere("part", KeyRange.Longs("v", 100L, 199L), repl)
    // ATOMIC: exactly one version carries the whole swap
    assert(t.version == v0 + 1, "replace-where must be one commit")
    // blast radius: bands 1 and 3 carried over by log reference
    val removed = t.entries.filter(e =>
      e.version == t.version && e.action == "remove").map(_.path)
    assert(removed.size == 1, s"pruned COW rewrote too much: $removed")
    // state: survivors outside the range ⊎ replacement, nothing else
    val got = t.asOf(t.version).select("v")
      .collect().map(_.getLong(0)).sorted
    val want = ((0L until 50L) ++ (100L to 120L) ++
      (200L until 250L)).sorted
    assert(got.toSeq == want)
    // the change feed nets the swap honestly: deletes of band 2's 50
    // rows, inserts of survivors(0)+replacement(21) — in ONE version
    val feed = spark.read.textFile(s"$root/log/${t.version}.csv")
      .collect().map(_.split(",")(1))
    assert(feed.count(_ == "remove") == 1 && feed.count(_ == "add") >= 1)
    // contract: a batch outside the region is rejected before commit
    val bad = Seq((999L, "x")).toDF("v", "part")
    intercept[IllegalArgumentException](
      t.commitReplaceWhere("part", KeyRange.Longs("v", 100L, 199L), bad))
    assert(t.version == v0 + 1, "rejected batch must not commit")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("string replace-where and vacuum dry-run read only the manifest") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_rws_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    Seq("alpha", "mike", "zulu").foreach { src =>
      t.commitAppend((0L until 20L).map(i => (s"$src-$i", i, "x"))
        .toDF("src", "n", "part").coalesce(1), "part")
    }
    // reload the 'mike' source region atomically, string-keyed
    t.commitReplaceWhere("part", KeyRange.Strings("src", "mike", "mike"),
      (0L until 5L).map(i => (s"mike-$i", 100L + i, "x"))
        .toDF("src", "n", "part"))
    val rem = t.entries.filter(e =>
      e.version == t.version && e.action == "remove")
    assert(rem.size == 1, s"string region must prune to one file: $rem")
    val got = t.asOf(t.version).select("src", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 45 && got("mike-3") == 103L &&
      !got.contains("mike-19") && got("alpha-3") == 3L)
    // out-of-region batch rejected
    intercept[IllegalArgumentException](
      t.commitReplaceWhere("part", KeyRange.Strings("src", "mike", "mike"),
        Seq(("zulu-99", 1L, "x")).toDF("src", "n", "part")))
    // vacuum dry-run: names the replaced file and its manifest bytes,
    // deletes nothing
    val (victims, bytes) = t.vacuumPlan(0)
    assert(victims.size == 1 && bytes == t.fileSizes(victims.head))
    assert(new java.io.File(s"$root/data/${victims.head}").exists)
    assert(t.vacuum(0).toSet == victims.toSet)
    assert(!new java.io.File(s"$root/data/${victims.head}").exists)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("auto-compaction bounds per-partition files, keeps every read exact") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_autoc_spec_").toString
    val t = new SnapshotLog.Table(spark, root, autoCompactAt = 4)
    def dirCounts(v: Int): Map[String, Int] =
      t.liveFiles(v).groupBy(_.split('/').head).map { case (d, fs) =>
        d -> fs.size }
    var mid = (0, Set.empty[Long]) // (version, rows) snapshot mid-stream
    (1 to 12).foreach { i =>
      t.commitAppend(Seq((i.toLong, if (i % 2 == 0) "x" else "y"))
        .toDF("k", "part").coalesce(1), "part")
      if (i == 5) mid = (t.version,
        t.asOfMor(t.version).select("k").collect().map(_.getLong(0)).toSet)
      // the policy invariant: no partition ever holds more than the
      // threshold (the trigger fires AT the threshold and compacts
      // down to one file before the next append lands)
      assert(dirCounts(t.version).values.forall(_ <= 4),
        s"partition exceeded the compaction bound: ${dirCounts(t.version)}")
    }
    // a MOR delete's DV must survive subsequent auto-compactions
    // (compaction applies DVs, never resurrects)
    t.commitDeleteKeysMor(Seq(2L).toDF("k"), "k")
    (13 to 20).foreach { i =>
      t.commitAppend(Seq((i.toLong, "x")).toDF("k", "part")
        .coalesce(1), "part")
    }
    val fin = t.asOfMor(t.version).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(fin == ((1L to 20L).toSet - 2L),
      s"auto-compaction lost or resurrected rows: $fin")
    assert(dirCounts(t.version).values.forall(_ <= 4))
    // time-travel immutability through the auto-compactions
    assert(t.asOfMor(mid._1).select("k").collect()
      .map(_.getLong(0)).toSet == mid._2)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("exotic merge keys surface the full-scan fallback loudly") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_fallback_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1 to 20).map(i => (i.toDouble, i.toLong, "a"))
      .toDF("dk", "v", "part").coalesce(1), "part")
    // DOUBLE merge key: correct, but unprunable — the marker must say so
    t.commitMerge(Seq((5.0, 500L, "a")).toDF("dk", "v", "part"),
      "part", "dk")
    assert(t.lastMergeFallback.contains("double"),
      s"fallback marker missing: ${t.lastMergeFallback}")
    assert(t.asOf(t.version).filter(col("v") === 500L).count() == 1)
    // LONG key: pruning ran, marker clear
    t.commitMerge(Seq((6L, 600L, "a", 6.0)).toDF("v", "v2", "part", "dk")
      .select(col("v"), col("part"), col("dk")), "part", "v")
    assert(t.lastMergeFallback.isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("scanAsOfMor: pruned reads apply DVs instead of resurrecting") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_scanmor_spec_").toString
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    (0 until 3).foreach { b =>
      t.commitAppend((0L until 90L).filter(_ % 3 == b)
        .map(k => (k, b.toLong, "x")).toDF("k", "band", "part")
        .coalesce(1), "part")
    }
    t.commitDeleteKeysMor(Seq(42L, 43L).toDF("k"), "k")
    val v = t.version
    // raw pruned scan (like asOf) still sees the tombstoned rows;
    // the MOR twin must not — and must equal the unpruned MOR read
    assert(t.scanAsOf(v).filter(col("k").isin(42L, 43L)).count() == 2)
    assert(t.scanAsOfMor(v).filter(col("k").isin(42L, 43L)).count() == 0)
    assert(t.scanAsOfMor(v).select("k").collect().map(_.getLong(0)).toSet
      == t.asOfMor(v).select("k").collect().map(_.getLong(0)).toSet)
    // and the pruning is still ambient through the anti-join
    // (band 1 holds keys k % 3 == 1 — 30 keys, minus tombstoned 43)
    val probe = t.scanAsOfMor(v).filter(col("band") === 1L)
    t.resetScanPrune()
    assert(probe.count() == 29)
    val Some((s, l)) = t.lastScanPrune
    assert(s < l, s"MOR pruned scan did not prune: $s/$l")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("z-order clustering makes BOTH dimensions prune, rows identical") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_zorder_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // a 64x64 grid scattered across 4 hash batches: before z-order
    // every file spans both full domains, after it each file covers a
    // contiguous z interval ≈ a rectangle
    val grid = for { a <- 0L until 64L; b <- 0L until 64L }
      yield (a * 64 + b, a, b, "x")
    (0 to 3).foreach { h =>
      t.commitAppend(grid.filter(_._1 % 4 == h)
        .toDF("id", "a", "b", "part").coalesce(1), "part")
    }
    val pre = t.version
    // pre-cluster: stats exist but prune NOTHING on either dimension
    assert(t.pruneFiles(pre, KeyRange.Longs("a", 10L, 15L)).size ==
      t.liveFiles(pre).size)
    assert(t.pruneFiles(pre, KeyRange.Longs("b", 10L, 15L)).size ==
      t.liveFiles(pre).size)
    t.commitClusterZ("part", "a", "b", filesPerRange = 16)
    val v = t.version
    val live = t.liveFiles(v).size
    // post-cluster: a narrow band on EITHER dimension prunes files
    val pa = t.pruneFiles(v, KeyRange.Longs("a", 10L, 15L)).size
    val pb = t.pruneFiles(v, KeyRange.Longs("b", 10L, 15L)).size
    assert(pa < live, s"z-order did not make dim a prune: $pa/$live")
    assert(pb < live, s"z-order did not make dim b prune: $pb/$live")
    // ... and the ambient path composes: a rectangle query through
    // scanAsOf opens fewer files than live
    val rect = t.scanAsOf(v).filter(
      col("a").between(10L, 15L) && col("b").between(10L, 15L))
    t.resetScanPrune()
    assert(rect.count() == 36)
    val Some((s, _)) = t.lastScanPrune
    assert(s < live, s"rectangle scan did not prune: $s/$live")
    // pure reorganization: row identity at the new version AND the old
    assert(t.asOf(v).select("id").collect().map(_.getLong(0)).toSet ==
      grid.map(_._1).toSet)
    assert(t.asOf(pre).select("id").collect().map(_.getLong(0)).toSet ==
      grid.map(_._1).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("zero-copy clone: content exact, lifecycles independent") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files
      .createTempDirectory("graft_clone_spec_")
    val src = new SnapshotLog.Table(spark, s"$base/src",
      bloomCols = Seq("k"))
    (0 to 2).foreach { b =>
      src.commitAppend((0L until 30L).map(i => (b * 100L + i, "x"))
        .toDF("k", "part").coalesce(1), "part")
    }
    src.commitDeleteKeysMor(Seq(5L, 105L).toDF("k"), "k") // live DVs
    val dst = new SnapshotLog.Table(spark, s"$base/dst",
      bloomCols = Seq("k"))
    dst.commitCloneFrom(src, src.version)
    def keys(t: SnapshotLog.Table): Set[Long] =
      t.asOfMor(t.version).select("k").collect().map(_.getLong(0)).toSet
    val want = ((0L until 30L) ++ (100L until 130L) ++
      (200L until 230L)).toSet -- Set(5L, 105L)
    // content: data files, zone-map stats, and DV bindings all carried
    assert(keys(dst) == want)
    assert(dst.zoneMaps.nonEmpty, "stats must carry verbatim")
    assert(dst.pruneFiles(1, KeyRange.Longs("k", 200L, 210L)).size <
      dst.liveFiles(1).size, "carried stats must prune on the clone")
    // divergence: each side's commits are invisible to the other
    dst.commitAppend(Seq((999L, "x")).toDF("k", "part"), "part")
    src.commitDeleteKeysMor(Seq(7L).toDF("k"), "k")
    assert(keys(dst) == want + 999L)
    assert(keys(src) == want - 7L)
    // lifecycle independence: source rewrites + vacuums ALL its
    // original bytes; the clone (hard links) still reads every row
    src.commitCompact("part")
    src.vacuum(0)
    assert(keys(dst) == want + 999L,
      "source vacuum must not reach through the clone's hard links")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("byte-targeted compaction sizes bins from the manifest") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_bytec_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    (1 to 6).foreach { i =>
      t.commitAppend((1L to 50L).map(k => (i * 1000L + k, "a"))
        .toDF("k", "part").coalesce(1), "part")
    }
    val total = t.liveFiles(t.version)
      .map(t.fileSizes).sum
    // target = just over half the bytes → exactly 2 bins
    t.commitCompactPartition("part", "a",
      targetFileBytes = total / 2 + 1)
    val after = t.liveFiles(t.version)
    assert(after.size == 2, s"expected 2 byte-sized bins: $after")
    assert(t.asOf(t.version).count() == 300)
    // a target bigger than the partition → 1 bin, and once compact a
    // re-run is the honest no-op
    t.commitCompactPartition("part", "a", targetFileBytes = total * 10)
    assert(t.liveFiles(t.version).size == 1)
    val v = t.version
    t.commitCompactPartition("part", "a", targetFileBytes = total * 10)
    assert(t.liveFiles(t.version).size == 1 && t.version == v + 1)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("null-count stats prune IS NULL and IS NOT NULL scans") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_nullst_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // commit 1: label fully populated; commit 2: label entirely null;
    // commit 3: mixed — the three null-stat classes
    t.commitAppend((1L to 20L).map(k => (k, Some(s"l$k"), "a"))
      .toDF("k", "label", "part").coalesce(1), "part")
    t.commitAppend((21L to 40L).map(k => (k, None: Option[String], "a"))
      .toDF("k", "label", "part").coalesce(1), "part")
    t.commitAppend((41L to 60L).map(k =>
        (k, if (k % 2 == 0) Some(s"l$k") else None, "a"))
      .toDF("k", "label", "part").coalesce(1), "part")
    val v = t.version
    val nc = t.nullCounts
    assert(t.liveFiles(v).forall(f => nc.get(f).exists(_.contains("label"))),
      s"every file must carry a label null stat: $nc")
    // IS NOT NULL drops the all-null file (Spark injects this predicate
    // under every pushed filter, so the skip is ambient)
    val notNull = t.scanAsOf(v).filter(col("label").isNotNull)
    t.resetScanPrune()
    assert(notNull.count() == 30)
    val Some((s1, l1)) = t.lastScanPrune
    assert(s1 == 2 && l1 == 3, s"IS NOT NULL kept $s1 of $l1")
    // IS NULL drops the fully-populated file
    val isNull = t.scanAsOf(v).filter(col("label").isNull)
    t.resetScanPrune()
    assert(isNull.count() == 30)
    val Some((s2, _)) = t.lastScanPrune
    assert(s2 == 2, s"IS NULL kept $s2 of 3")
    // and an equality filter composes: its implicit IsNotNull plus the
    // range pass must never open the all-null file
    val eq = t.scanAsOf(v).filter(col("label") === "l5")
    t.resetScanPrune()
    assert(eq.count() == 1)
    val Some((s3, _)) = t.lastScanPrune
    assert(s3 <= 2, s"equality scan opened the all-null file: $s3")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("scanAsOf pushes row filters into the parquet scan") {
    import graft.sources.SnapshotLog
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_scanpd_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 100L).map(k => (k, "a"))
      .toDF("k", "part"), "part")
    // file pruning happens in listFiles; ROW pruning must still reach
    // the parquet reader (PushedFilters) — the two layers compose
    val plan = t.scanAsOf(1).filter(col("k") === 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,5)]"),
      s"row filter did not reach the parquet scan:\n$plan")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("cdf startingTimestamp resolves to the first commit at or after t") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdfts_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    (1 to 3).foreach { i =>
      t.commitAppend(Seq((i.toLong, 10L * i, "a"))
        .toDF("user_id", "cents", "part").coalesce(1), "part")
    }
    // resolution helper: t(v2) names v2; between-stamp instants round
    // UP to the next commit; past-the-end instants resolve to None
    assert(t.versionStartingAtTimestamp(t.publishTimestamp(2))
      .contains(2))
    assert(t.versionStartingAtTimestamp(t.publishTimestamp(3) + 1)
      .isEmpty)
    def drain(since: Long): Seq[Long] = {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdfts_ckpt_").toString
      val q = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", root).option("partCol", "part")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .option("startingTimestamp", since.toString)
        .load().writeStream.format("memory")
        .queryName("cdf_ts_probe")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("cdf_ts_probe")
        .select("user_id").collect().map(_.getLong(0)).toSeq.sorted
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      got
    }
    // starting at v2's stamp: commits 2 and 3 flow, commit 1 is skipped
    assert(drain(t.publishTimestamp(2)) == Seq(2L, 3L))
    // starting past the last commit: nothing historical flows
    assert(drain(t.publishTimestamp(3) + 1).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("batch table_changes honors both window bounds and the DV delta") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_tblchg_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    (1 to 3).foreach { i =>
      t.commitAppend(Seq((i * 10L, 100L * i, "a"))
        .toDF("user_id", "cents", "part").coalesce(1), "part")
    }
    t.commitDeleteKeysMor(Seq(20L).toDF("user_id"), "user_id") // v4
    def changes(from: Int, to: Int): Seq[(Long, Long, String)] =
      spark.read.format("graft.sources.SnapshotCdfSource")
        .option("path", root).option("partCol", "part")
        .option("schema.ddl", "user_id LONG, cents LONG")
        .option("startingVersion", from.toString)
        .option("endingVersion", to.toString)
        .load()
        .select("user_id", "_version", "_change").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // interior window: exactly commits 2..3, as inserts
    assert(changes(1, 3).sorted ==
      Seq((20L, 2L, "insert"), (30L, 3L, "insert")))
    // DV-only window: exactly the newly tombstoned row, as a delete
    assert(changes(3, 4) == Seq((20L, 4L, "delete")))
    // the full feed folds to the live state net of the tombstone
    val full = changes(0, 4)
    assert(full.count(_._3 == "insert") == 3 &&
      full.count(_._3 == "delete") == 1)
    // wall-time upper bound: endingTimestamp at v2's stamp stops there
    val byTime = spark.read.format("graft.sources.SnapshotCdfSource")
      .option("path", root).option("partCol", "part")
      .option("schema.ddl", "user_id LONG, cents LONG")
      .option("startingVersion", "0")
      .option("endingTimestamp", t.publishTimestamp(2).toString)
      .load().select("user_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(byTime == Seq(10L, 20L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("cdf tail equals the last commit of the full feed") {
    // the tail (startingVersion = 2) must be the v3 slice of the full
    // feed: deletes of all clicks, reinserts of the cheap ones — and
    // re-running is deterministic (fresh checkpoint each call)
    val tail = q("q_stream_cdf_tail").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tail.keySet == Set("insert", "delete"))
    assert(tail("delete")._1 > tail("insert")._1) // COW removed rows
    val again = q("q_stream_cdf_tail").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tail == again)
  }

  test("escaped partition values round-trip through every read path") {
    // Spark's partitioned writer path-escapes %, :, /, = … — the
    // pruned scan, the CDF feed, and the partition-keyed commits must
    // all speak the LOGICAL value, not its %XX path encoding. A
    // verbatim comparison silently returns zero rows for the filter
    // (the partition filter is EXACT: Spark drops it from the
    // residual trusting listFiles) and surfaces '12%3A30' as data.
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_escpart_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val vals = Seq("12:30", "a%b", "plain")
    t.commitAppend(vals.zipWithIndex
      .map { case (p, i) => (i.toLong, p, i * 10L) }
      .toDF("k", "part", "v"), "part")
    // discovery read (asOf) and pruned read (scanAsOf) agree on the
    // logical value, and the partition FILTER matches it
    val byAsOf = t.asOf(1).filter(col("part") === "12:30")
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(byAsOf == Seq(0L), s"asOf saw $byAsOf")
    val pruned = t.scanAsOf(1).filter(col("part") === "12:30")
    assert(pruned.select("k").collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(pruned.select("part").collect().map(_.getString(0)).toSeq ==
      Seq("12:30"), "pruned scan must surface the unescaped value")
    val vals2 = t.scanAsOf(1).select("part").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals2 == vals.toSet, s"escaped values leaked: $vals2")
    // CDF feed surfaces the logical value too
    val cdf = spark.read.format("graft.sources.SnapshotCdfSource")
      .option("path", root).option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .option("startingVersion", "0")
      .load().select("part").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cdf == vals.toSet, s"CDF saw $cdf")
    // partition-keyed delete takes the logical value
    t.commitDeletePartition("part", "a%b")
    assert(t.asOf(t.version).select("part").distinct()
      .collect().map(_.getString(0)).toSet == Set("12:30", "plain"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
}
