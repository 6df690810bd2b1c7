package graft

import org.apache.spark.sql.functions._
import graft.operators.MergeOnRead
import graft.sources.{DeletionVectors, KeyRange, SnapshotLog}

/** Structural contracts of the merge-on-read wave: the oracle proves
  * the VALUES; these prove the deletes were actually deferred (zero
  * rewrites at delete time), the materialization actually bounded
  * (only DV files rewritten), and the CDC blast radius actually
  * pruned. */
class MergeOnReadSpec extends SparkSpec {

  /** 600 keys two apart from `from`: their positions in a file of
    * consecutive keys serialize above [[DeletionVectors.InlineMaxBytes]],
    * so their DV is a sidecar file. */
  private def scattered(from: Long): Seq[Long] = from until from + 1200L by 2L

  test("DV delete commits move zero data bytes and time-travel") {
    q("q_snapshot_mor_delete").collect() // force the staged build
    val t = MergeOnRead.morStagedTable(spark, sf)
    // v4 = last ingest; v5, v6 = the two DV deletes
    assert(t.liveFiles(4) == t.liveFiles(6),
      "a merge-on-read delete must not add or remove data files")
    assert(t.dvFor(6).nonEmpty)
    // deletes are versioned like everything else: v4 sees everything,
    // v5 only the %97 victims gone, v6 both
    val full = t.asOfMor(4).count()
    val after1 = t.asOfMor(5).count()
    val after2 = t.asOfMor(6).count()
    assert(full > after1 && after1 > after2)
    // v6's supersede kept v5's positions: no %97 key resurfaces
    assert(t.asOfMor(6).filter(col("o_orderkey") % 97 === 0).count() == 0)
    assert(t.asOfMor(6).filter(col("o_orderkey") % 89 === 0).count() == 0)
    // no DV'd file lost rows it should keep: plain asOf still full
    assert(t.asOf(6).count() == full)
  }

  test("a MOR delete over several files writes its DVs in parallel tasks") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_dv_tasks_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(spark.range(0, 800).selectExpr("id AS k",
      "CAST(id % 8 AS STRING) AS p"), "p")
    // the second delete supersedes the first one's sidecars
    t.commitDeleteKeysMor(spark.range(0, 8).toDF("k"), "k")
    val (v, report) = org.apache.spark.sql.graft.Trace(spark)(
      t.commitDeleteKeysMor(spark.range(8, 16).toDF("k"), "k"))
    val dvs = t.dvFor(v)
    assert(dvs.size >= 4, s"${dvs.size} files carry a DV")
    // the writer is the delete's last job (the result stage after the
    // hit scan's shuffle)
    assert(report.jobs.last.tasks > 1,
      s"(call site, tasks): ${report.jobs.map(j => (j.callSite, j.tasks))}")
    // every DV records its bitmap's cardinality, both rounds' in all
    val positions = dvs.toSeq.map { case (rel, dv) =>
      val bm = DeletionVectors.load(dv.loc(root, rel),
        spark.sparkContext.hadoopConfiguration)
      assert(!dv.isText && dv.card == bm.getLongCardinality, s"$rel: $dv")
      bm.toArray.toVector
    }
    assert(positions.map(_.size).sum == 16)
    assert(t.asOfMor(v).count() == 784)
    assert(t.asOfMor(v).filter(col("k") < 16).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("materialization rewrites ONLY DV-carrying files, retires DVs") {
    q("q_snapshot_mor_compact").collect() // force the staged build
    val t = MergeOnRead.morCompactStagedTable(spark, sf)
    val dvd = t.dvFor(6).keySet // files that carried a DV before v7
    val before = t.liveFiles(6).toSet
    val after = t.liveFiles(7).toSet
    assert(t.dvFor(7).isEmpty, "materialization must retire the DVs")
    // removed ⊆ DV'd; everything else carried over by log reference
    val removed = before -- after
    assert(removed == dvd,
      s"rewrote ${removed.size} files; DV'd were ${dvd.size}")
    assert((before -- dvd).subsetOf(after))
    // row identity: plain read after == anti-join read before
    assert(t.asOf(7).count() == t.asOfMor(6).count())
  }

  test("CDC merge: key-range scoping keeps commits 2-4 unread") {
    q("q_snapshot_cdc_merge").collect() // force the staged build
    val t = MergeOnRead.cdcStagedTable(spark, sf)
    // blast radius from the LOG (the staged build may predate this
    // handle, so lastMergeScan is gone): the change batch is scoped to
    // quartile 1, so only commit 1's files may be removed at v5
    val removed = t.liveFiles(4).toSet -- t.liveFiles(5).toSet
    assert(removed.nonEmpty && removed.forall(_.contains("/v1-")),
      s"CDC rewrite touched non-quartile-1 files: $removed")
    // inserts present; tombstoned keys gone
    val s = t.asOf(t.version)
    assert(s.filter(col("o_orderkey") >= 100000000L).count() > 0,
      "no inserts landed")
  }

  test("CDC merge prunes candidates on a fresh key-clustered table") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdcprune_").toString
    val t = new SnapshotLog.Table(spark, root)
    Seq(0L, 100L, 200L).foreach { base =>
      t.commitAppend((base until base + 100L).map(k => (k, "x", k))
        .toDF("k", "part", "v").coalesce(1), "part")
    }
    val changes = Seq((5L, "x", 500L, "U"), (7L, "x", 0L, "D"))
      .toDF("k", "part", "v", "__op")
    t.commitApplyChanges(changes, "k")
    val Some((cand, live)) = t.lastMergeScan
    assert(cand < live, s"scanned $cand of $live")
    assert(t.asOf(t.version).count() == 299)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("tombstone for an absent key is an idempotent no-op") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdcnoop_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "x", 10L), (2L, "x", 20L))
      .toDF("k", "part", "v").coalesce(1), "part")
    // delete k=999 (absent) + update k=2: the absent tombstone must
    // not throw, not insert, not disturb k=1
    val changes = Seq((999L, "x", 0L, "D"), (2L, "x", 22L, "U"))
      .toDF("k", "part", "v", "__op")
    t.commitApplyChanges(changes, "k")
    val rows = t.asOf(t.version).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getAs[Long]("v")).toSeq == Seq(10L, 22L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("partition evolution: mixed layouts read, DVs span layouts") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_pevo_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // v1 partitioned by a, v2 by b — both columns ride as data in the
    // other layout, the q_snapshot_partition_evolution shape
    t.commitAppend((1L to 20L).map(k => (k, s"a${k % 2}", s"b${k % 3}"))
      .toDF("k", "pa", "pb").coalesce(1), "pa")
    t.commitAppend((21L to 40L).map(k => (k, s"a${k % 2}", s"b${k % 3}"))
      .toDF("k", "pa", "pb").coalesce(1), "pb")
    val all = t.asOf(2)
    assert(all.count() == 40)
    assert(all.columns.sorted.toSeq == Seq("k", "pa", "pb"))
    // every row keeps both columns, whichever layout carried it
    assert(all.filter(col("pa").isNull || col("pb").isNull).count() == 0)
    // time travel still resolves the single-layout state
    assert(t.asOf(1).count() == 20)
    // a MOR delete whose keys span BOTH layouts: candidates and
    // positions resolve per file regardless of layout
    t.commitDeleteKeysMor(Seq(5L, 25L).toDF("k"), "k")
    assert(t.asOfMor(3).count() == 38)
    assert(t.asOfMor(3).filter(col("k").isin(5L, 25L)).count() == 0)
    // the layout-scoped metadata delete: pb=b0 kills only layout-2
    // files; layout-1 rows with pb=b0 survive
    val v = t.commitDeletePartition("pb", "b0")
    val after = t.asOfMor(v)
    assert(after.filter(col("pb") === "b0" && col("k") <= 20L)
      .count() > 0, "old-layout rows must survive a new-layout delete")
    assert(after.filter(col("pb") === "b0" && col("k") > 20L)
      .count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("every rewrite path applies active DVs: MOR deletes never resurrect") {
    import spark.implicits._
    // the resurrection trap: a rewrite removes a file, which RETIRES
    // its DV binding — so a rewrite that read its victims raw would
    // copy the dead rows into the new file with no record of their
    // deletion. Each path below deletes k=5 (file 1) and k=105
    // (file 2) merge-on-read, then rewrites file 1 a different way;
    // k=5 must stay dead in the PLAIN asOf read (the DV applied), and
    // k=105's DV must stay active (its file untouched).
    def fresh(tag: String): (String, SnapshotLog.Table) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_dvrw_$tag").toString
      val t = new SnapshotLog.Table(spark, root)
      t.commitAppend((1L to 100L).map(k => (k, "a", k))
        .toDF("k", "part", "v").coalesce(1), "part")
      t.commitAppend((101L to 200L).map(k => (k, "b", k))
        .toDF("k", "part", "v").coalesce(1), "part")
      t.commitDeleteKeysMor(Seq(5L, 105L).toDF("k"), "k") // v3
      (root, t)
    }
    def check(t: SnapshotLog.Table, file2Rewritten: Boolean): Unit = {
      val mor = t.asOfMor(t.version)
      assert(mor.filter(col("k").isin(5L, 105L)).count() == 0,
        "a rewrite resurrected a MOR-deleted row")
      // file 1 was rewritten → its delete must be PHYSICAL now
      assert(t.asOf(t.version).filter(col("k") === 5L).count() == 0,
        "the rewrite carried the dead row instead of applying the DV")
      if (!file2Rewritten) {
        assert(t.dvFor(t.version).nonEmpty,
          "untouched file 2 must keep its DV binding")
        assert(t.asOf(t.version).filter(col("k") === 105L).count() == 1)
      } else assert(t.dvFor(t.version).isEmpty)
    }
    val (r1, t1) = fresh("mrg") // upsert MERGE hits file 1 via k=7
    t1.commitMerge(Seq((7L, "a", 700L)).toDF("k", "part", "v"), "k")
    check(t1, file2Rewritten = false)
    val (r2, t2) = fresh("cdc") // CDC tombstone on k=8 rewrites file 1
    t2.commitApplyChanges(Seq((8L, "a", 0L, "D"))
      .toDF("k", "part", "v", "__op"), "k")
    check(t2, file2Rewritten = false)
    val (r3, t3) = fresh("rng") // range delete v∈[50,60] prunes to file 1
    t3.commitDeleteRange(KeyRange.Longs("v", 50L, 60L))
    check(t3, file2Rewritten = false)
    val (r4, t4) = fresh("whr") // partition-scoped COW delete on file 1;
    // the keep predicate RETAINS k=5 — only the DV may kill it
    t4.commitDeleteWhere("part", "a", col("v") =!= 50L)
    check(t4, file2Rewritten = false)
    val (r5, t5) = fresh("cmp") // compaction rewrites everything:
    t5.commitCompact()    // doubles as a materialization
    check(t5, file2Rewritten = true)
    val (r6, t6) = fresh("cls")
    t6.commitCluster("v", filesPerRange = 2)
    check(t6, file2Rewritten = true)
    Seq(r1, r2, r3, r4, r5, r6).foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
  }

  test("a MOR delete applies in partitions whose values the path escapes") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvescape_").toString
    val t = new SnapshotLog.Table(spark, root)
    val values = Seq("t:1", "a b", "x%y", "a+b")
    t.commitAppend((1L to 12L).map(k => (k, values((k % 4).toInt)))
      .toDF("k", "part").coalesce(1), "part")
    // `_metadata.file_path` escapes these dirs once more (a%20b,
    // t%253A1): the DVs must bind and apply under the log's rels
    val v = t.commitDeleteKeysMor((1L to 4L).toDF("k"), "k")
    assert(t.dvFor(v).keySet == t.liveFiles(v).toSet, s"${t.dvFor(v).keys}")
    assert(t.asOfMor(v).select("k").as[Long].collect().sorted.toSeq ==
      (5L to 12L))
    t.commitMaterializeDv()
    assert(t.asOf(t.version).count() == 8 && t.dvFor(t.version).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("legacy unsuffixed DV bindings still resolve after the rename") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvlegacy_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 10L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")
    val Seq(rel) = t.liveFiles(1)
    // hand-craft a pre-round-10 binding: sidecar named <rel>.<v>.dv
    // (no writer uid), log entry `rel|2`
    val side = java.nio.file.Paths.get(s"$root/dv/$rel.2.dv")
    java.nio.file.Files.createDirectories(side.getParent)
    java.nio.file.Files.write(side, "0\n3\n".getBytes("UTF-8"))
    t.publishSegment(2, Seq(SnapshotLog.Entry(2, "dv", s"$rel|2")))
    assert(t.asOfMor(2).count() == 8,
      "a legacy-named sidecar must still bind and apply")
    // and a rewrite applies it like any current-format DV
    t.commitCompact()
    assert(t.asOf(3).count() == 8 && t.dvFor(3).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("tags: fold, retag moves, drop retires; restore respects vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_tags_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 10L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                                   // v1
    t.commitAppend((11L to 20L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                                   // v2
    t.commitTagVersion("ga", 1)                               // v3
    assert(t.tags == Map("ga" -> 1))
    assert(t.asOfTag("ga").count() == 10)
    t.commitTagVersion("ga", 2)                               // v4: retag
    assert(t.tags == Map("ga" -> 2))
    t.dropTag("ga")                                           // v5
    assert(t.tags.isEmpty)
    intercept[IllegalArgumentException] { t.asOfTag("ga") }
    // restore past the vacuum horizon fails loudly, not silently
    t.commitCompact()                                   // v6
    t.vacuum(retainVersions = 0)
    intercept[IllegalArgumentException] { t.commitRestore(1) }
    // and a restore to a still-reachable version works
    t.commitAppend(Seq((99L, "a")).toDF("k", "part"), "part") // v8
    val rv = t.commitRestore(6)
    assert(t.asOf(rv).count() == 20)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("restore clears a DV the target never had (reference cycle)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_rescyc_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 30L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                                   // v1: clean
    t.commitDeleteKeysMor(Seq(7L, 9L).toDF("k"), "k")         // v2: DV lands
    // restore to v1: the file stays live but must LOSE its binding —
    // the cycle path (remove+add by reference, zero bytes)
    val rv = t.commitRestore(1)
    assert(t.dvFor(rv).isEmpty, "target had no DV; binding must clear")
    assert(t.asOfMor(rv).count() == 30)
    // and restoring back to v2 re-binds it
    val rv2 = t.commitRestore(2)
    assert(t.dvFor(rv2).nonEmpty)
    assert(t.asOfMor(rv2).count() == 28)
    assert(t.asOfMor(rv2).filter(col("k").isin(7L, 9L)).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("vacuum ages out superseded DV sidecars; orphans swept; rebinds live") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvret_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 4000L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                                  // v1
    val Seq(f) = t.liveFiles(1)
    // 600 scattered positions serialize above the inline limit, so
    // each DV is a sidecar
    t.commitDeleteKeysMor(scattered(1L).toDF("k"), "k")      // v2: dv A
    t.commitDeleteKeysMor(scattered(2001L).toDF("k"), "k")   // v3: dv B ⊇ A
    def sidecars() = {
      val d = new java.io.File(s"$root/dv/${f.split('/').head}")
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".dv")).toSeq
    }
    assert(sidecars().size == 2)
    // retention covers v2: the superseded sidecar must SURVIVE
    t.commitAppend(Seq((99L, "a")).toDF("k", "part"), "part") // v4
    t.vacuum(retainVersions = 2)                    // horizon = 2
    assert(sidecars().size == 2, "v2 is retained; its sidecar must live")
    assert(t.asOfMor(2).count() == 3400)
    // horizon passes v2: only the ACTIVE sidecar remains, reads intact
    t.vacuum(retainVersions = 0)
    assert(sidecars().size == 1, s"superseded sidecar must age out")
    assert(t.asOfMor(t.version).count() == 2801)
    assert(t.asOfMor(t.version)
      .filter(col("k").isin(3L, 2003L)).count() == 0)
    // an unbound (race-orphaned) sidecar is invisible and swept
    val orphan = java.nio.file.Paths.get(
      s"$root/dv/${f.split('/').head}/ghost.parquet.9-deadbeef.dv")
    java.nio.file.Files.write(orphan, "0\n".getBytes("UTF-8"))
    assert(t.orphanDvFiles().size == 1)
    t.cleanOrphans()
    assert(t.orphanDvFiles().isEmpty)
    assert(!java.nio.file.Files.exists(orphan))
    // a RESTORE that re-binds the old sidecar id keeps it vacuum-safe
    val t2root = java.nio.file.Files
      .createTempDirectory("graft_dvret2_").toString
    val t2 = new SnapshotLog.Table(spark, t2root)
    t2.commitAppend((1L to 4000L).map(k => (k, "a")).toDF("k", "part")
      .coalesce(1), "part")                                  // v1
    t2.commitDeleteKeysMor(scattered(1L).toDF("k"), "k")     // v2: id X
    t2.commitDeleteKeysMor(scattered(2001L).toDF("k"), "k")  // v3: id Y
    t2.commitRestore(2)                                      // v4: rebind X
    t2.vacuum(retainVersions = 0)
    assert(t2.asOfMor(t2.version).count() == 3400,
      "the re-bound sidecar must survive vacuum (open window)")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(t2root))
  }

  test("change feed nets honestly through a tagged restore") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cdfres_")
    val t = new SnapshotLog.Table(spark, base.resolve("tbl").toString)
    t.commitAppend((1L to 30L).map(k => (k, "a", k * 10))
      .toDF("k", "part", "v").coalesce(1), "part")            // v1
    t.commitDeleteKeysMor(Seq(4L, 9L).toDF("k"), "k")         // v2: DV
    t.commitMerge((1L to 30L by 3).map(k => (k, "a", k * 1000))
      .toDF("k", "part", "v").coalesce(1), "k")       // v3: bad
    t.commitRestore(2)                                        // v4: undo
    val q = spark.readStream
      .format("graft.sources.SnapshotCdfSource")
      .option("path", t.root).option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .load()
      .writeStream.format("memory").queryName("graft_cdf_restore")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val feed = spark.table("graft_cdf_restore")
    val sgn = when(col("_change") === "insert", 1L).otherwise(-1L)
    // the folded feed equals the restored MOR state, row for row
    val folded = feed.groupBy("k").agg(sum(sgn).as("s"), sum(sgn * col("v")).as("sv"))
      .filter(col("s") =!= 0L)
    assert(folded.filter(col("s") =!= 1L).count() == 0,
      "every surviving key must net to exactly one row")
    val got = folded.select(col("k"), col("sv")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = t.asOfMor(4).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"feed fold diverged from the restored state: ${got.size} vs ${want.size}")
    assert(!want.contains(4L) && !want.contains(9L))
    assert(want(7L) == 70L, "the bad merge's bump must be undone")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("vacuum after materialization reclaims retired DV sidecars") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvvac_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 4000L).map(k => (k, "x")).toDF("k", "part")
      .coalesce(1), "part")
    t.commitDeleteKeysMor(scattered(1L).toDF("k"), "k") // a sidecar DV
    val Seq(f) = t.liveFiles(1)
    // sidecar names are writer-unique (<v>-<uid>): a CAS-losing racer
    // can only orphan its own name, never overwrite the winner's bytes
    def sidecars() = {
      val d = new java.io.File(s"$root/dv/${f.split('/').head}")
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".dv")).toSeq
    }
    val Seq(side) = sidecars()
    assert(side.matches(""".*\.2-[0-9a-f]{8}\.dv"""), side)
    assert(t.asOfMor(2).count() == 3400)
    t.commitMaterializeDv()
    t.vacuum(retainVersions = 0)
    assert(sidecars().isEmpty,
      "the removed file's DV sidecar must die with its data bytes")
    assert(t.asOf(t.version).count() == 3400)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("MOR merge: zero rewrite, supersedes prior DVs, time-travels") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_mmor_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 40L).map(k => (k, k * 10, "a"))
      .toDF("k", "v", "part").coalesce(1), "part")    // v1
    t.commitDeleteKeysMor(Seq(3L).toDF("k"), "k")     // v2: prior DV
    val preLive = t.liveFiles(2).toSet
    // v3: upsert keys 3 (resurrect with new value), 7 (update), 99 (insert)
    t.commitMergeMor(Seq((3L, 333L, "a"), (7L, 777L, "a"),
      (99L, 999L, "a")).toDF("k", "v", "part").coalesce(1), "k")
    val state = t.asOfMor(3).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // semantics: (target \ src-keys) ⊎ src — including the key whose
    // only live row was already MOR-dead (pure re-insert)
    assert(state == ((1L to 40L).filterNot(Seq(3L, 7L).contains)
      .map(k => k -> k * 10).toMap ++ Map(3L -> 333L, 7L -> 777L,
      99L -> 999L)), s"wrong merged state")
    // zero rewrite: v1's file is still live, nothing was removed
    assert(t.entries.filter(_.version == 3).forall(_.action != "remove"))
    assert(preLive.subsetOf(t.liveFiles(3).toSet))
    // the v3 sidecar SUPERSEDES v2's: old positions stay dead
    assert(!t.asOfMor(3).filter(col("v") === 30L).head(1).nonEmpty)
    // time travel: v2 still shows the pre-merge state (3 dead, 7 alive)
    val v2 = t.asOfMor(2).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2 == (1L to 40L).filterNot(_ == 3L)
      .map(k => k -> k * 10).toMap)
    // materialization converges MOR to COW with identical content
    t.commitMaterializeDv()
    assert(t.asOf(t.version).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == state)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
}
