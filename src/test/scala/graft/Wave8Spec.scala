package graft

import org.apache.spark.sql.functions._
import graft.operators.Wave8
import graft.sources.KeyRange

/** Invariants for the snapshot-versioning wave (the oracle proves value
  * equality; these prove the storage semantics are the intended ones —
  * metadata-only deletes, COW blast radius, log/row conservation). */
class Wave8Spec extends SparkSpec {

  test("snapshot log: v3 delete is metadata-only, v4 COW touches only O") {
    q("q_time_travel").collect() // force the staged build
    val t = Wave8.stagedTable(spark, sf)
    assert(t.version == 4)
    val es = t.entries
    // v3 removed the F partition without writing a single file
    val v3 = es.filter(e => e.version == 3 && e.action != "meta")
    assert(v3.nonEmpty && v3.forall(_.action == "remove"))
    assert(v3.forall(_.path.startsWith("o_orderstatus=F/")))
    // v4 (COW) rewrote only inside the O partition
    val v4 = es.filter(e => e.version == 4 &&
      (e.action == "add" || e.action == "remove" || e.action == "stats"))
    assert(v4.exists(_.action == "remove") && v4.exists(_.action == "add"))
    assert(v4.forall(_.path.startsWith("o_orderstatus=O/")))
    // appends never remove
    assert(es.filter(e => e.version <= 2).forall(_.action != "remove"))
    // time travel prunes: v3 reads strictly fewer files than v2, and
    // none of them is an F file
    val live2 = t.liveFiles(2)
    val live3 = t.liveFiles(3)
    assert(live3.size < live2.size)
    assert(live3.forall(!_.startsWith("o_orderstatus=F/")))
    // v1's files stay live and untouched through every later version
    assert(t.liveFiles(1).toSet.subsetOf(live2.toSet))
  }

  test("snapshot log: historical versions remain readable and stable") {
    val t = Wave8.stagedTable(spark, sf)
    val n1 = t.asOf(1).count()
    val n2 = t.asOf(2).count()
    val n3 = t.asOf(3).count()
    val nF = t.asOf(2).filter(col("o_orderstatus") === "F").count()
    assert(n2 > n1) // append grew the table
    assert(n3 == n2 - nF) // metadata delete removed exactly the Fs
    assert(t.asOf(3).filter(col("o_orderstatus") === "F").count() == 0)
    // v4 kept only capped O orders, other partitions untouched
    val v4 = t.asOf(4)
    assert(v4.filter(col("o_orderstatus") === "O" &&
      col("price_cents") > 15000000L).count() == 0)
    assert(v4.filter(col("o_orderstatus") === "P").count() ==
      t.asOf(3).filter(col("o_orderstatus") === "P").count())
  }

  test("change feed nets to the version-over-version row delta") {
    val tt = q("q_time_travel").collect()
      .map(r => r.getAs[Int]("version") -> r.getAs[Long]("n_rows")).toMap
    val cf = q("q_change_feed").collect()
    cf.foreach { r =>
      val v = r.getAs[Int]("version")
      assert(r.getAs[Long]("net_delta") ==
        r.getAs[Long]("n_added_rows") - r.getAs[Long]("n_removed_rows"))
      // row conservation: the log-derived delta equals the difference
      // of materialized states — without diffing them
      assert(tt(v) - tt.getOrElse(v - 1, 0L) == r.getAs[Long]("net_delta"))
    }
    // COW surfaces as remove(all old O rows) + add(survivors)
    val v4 = cf.find(_.getAs[Int]("version") == 4).get
    assert(v4.getAs[Long]("n_removed_rows") > 0 &&
      v4.getAs[Long]("n_added_rows") > 0)
  }

  test("snapshot log: CAS commits, compaction preserves rows exactly") {
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_snap_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    // two appends build a multi-file-per-partition table
    assert(t.commitAppend(orders.limit(200), "o_orderstatus",
      expectedVersion = 0) == 1)
    assert(t.commitAppend(orders.filter(col("o_orderkey") > 500),
      "o_orderstatus", expectedVersion = 1) == 2)
    // a writer that planned against v1 loses the race and must retry
    intercept[java.util.ConcurrentModificationException] {
      t.commitDeletePartition("o_orderstatus", "F", expectedVersion = 1)
    }
    assert(t.version == 2) // the failed commit left no log entries
    // compaction: same rows, fewer files, net-zero change feed
    val before = t.asOf(2).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))
      .collect().map(_.toSeq).toSet
    val nFilesBefore = t.liveFiles(2).size
    assert(t.commitCompact("o_orderstatus", expectedVersion = 2) == 3)
    val after = t.asOf(3).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))
      .collect().map(_.toSeq).toSet
    assert(after == before) // pure reorganization
    assert(t.liveFiles(3).size < nFilesBefore)
    // one file per partition value at filesPerPartition = 1
    assert(t.liveFiles(3).groupBy(_.split("/")(0)).values
      .forall(_.size == 1))
    // history survives compaction: v1 still reads exactly its content
    assert(t.asOf(1).count() == 200)
    // vacuum retention 1: v2 must stay readable, and v3's compaction
    // removed exactly v2's live set — so nothing is reclaimable yet
    assert(t.vacuum(retainVersions = 1).isEmpty)
    assert(t.asOf(2).count() == t.asOf(3).count())
    // retention 0: only the current version is protected; the
    // pre-compaction files (removed at v3) are reclaimed
    val reclaimed = t.vacuum(retainVersions = 0)
    assert(reclaimed.nonEmpty)
    assert(t.asOf(3).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))
      .collect().map(_.toSeq).toSet == before) // retained reads intact
    // the log keeps provenance even after bytes are reclaimed
    assert(t.entries.exists(e => e.version == 1 && e.action == "add"))
    // a vacuumed historical read fails loudly instead of lying
    intercept[Exception] { t.asOf(1).count() }
  }

  test("idempotent txn commits: duplicates skipped, crash seam safe") {
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus")).limit(100)
    assert(t.commitAppendIdempotent(df, "o_orderstatus", "b-0"))
    val n1 = t.asOf(t.version).count()
    // re-delivery of the same txn id: logged no-op, rows unchanged
    assert(!t.commitAppendIdempotent(df, "o_orderstatus", "b-0"))
    assert(t.asOf(t.version).count() == n1)
    assert(t.committedTxns == Set("b-0"))
    // a different txn id commits normally
    assert(t.commitAppendIdempotent(df, "o_orderstatus", "b-1"))
    assert(t.asOf(t.version).count() == 2 * n1)
    // log-unsafe txn ids are rejected before any write
    intercept[IllegalArgumentException] {
      t.commitAppendIdempotent(df, "o_orderstatus", "a,b")
    }
  }

  test("merge: COW touches only hit files, updates can move partitions") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_merge_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "part", "v"), "part")
    t.commitAppend(Seq((4L, "b", 40L)).toDF("k", "part", "v"), "part")
    // update k=3 AND move it from partition b to c; insert k=5
    val merged = t.commitMerge(
      Seq((3L, "c", 99L), (5L, "a", 50L)).toDF("k", "part", "v"),
      "part", "k")
    val out = t.asOf(merged).orderBy("k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("part"),
        r.getAs[Long]("v"))).toSeq
    assert(out == Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "c", 99L),
      (4L, "b", 40L), (5L, "a", 50L)))
    // blast radius: v2's file (no hit) carried over untouched; only
    // v1's files were rewritten
    val es = t.entries.filter(_.version == merged)
    assert(!es.exists(e => e.action == "remove" && e.path.contains("/v2-")))
    assert(es.exists(e => e.action == "remove" && e.path.contains("/v1-")))
    // history: pre-merge state unchanged
    assert(t.asOf(2).filter(col("k") === 3L).select("v")
      .head().getLong(0) == 30L)
    // pure-insert merge (no key overlap) removes nothing
    val v4 = t.commitMerge(Seq((9L, "a", 90L)).toDF("k", "part", "v"),
      "part", "k")
    assert(t.entries.filter(_.version == v4).forall(_.action != "remove"))
    assert(t.asOf(v4).count() == 6)
  }

  test("cdf stream: offset = version, restart resumes mid-history") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft_cdfspec_")
    val t = new SnapshotLog.Table(spark, base.resolve("tbl").toString)
    val ckpt = base.resolve("ckpt").toString
    t.commitAppend(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "part", "v"), "part")
    def readFeed(): Unit = {
      val q = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root).option("partCol", "part")
        .option("schema.ddl", "k LONG, v LONG")
        .load()
        .groupBy("_change")
        .agg(count(lit(1)).as("n"), max(col("_version")).as("maxv"))
        .writeStream.format("memory").queryName("cdf_spec")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    readFeed()
    val first = spark.table("cdf_spec").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(first == Map("insert" -> (2L, 1L)))
    // land a COW delete, RESTART from the checkpoint: only commit 2
    // arrives (insert survivors + delete old file rows)
    t.commitDeleteWhere("part", "a", col("v") < 0L) // deletes the a-row
    readFeed()
    val second = spark.table("cdf_spec").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // complete-mode state accumulated across the restart: inserts
    // 2 (v1) + 0 survivors (all of partition a deleted), deletes 1 @ v2
    assert(second == Map("insert" -> (2L, 1L), "delete" -> (1L, 2L)))
    // the stream itself proves resume-not-replay: a replay of commit 1
    // would have doubled the insert count
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("zone maps: range read skips every non-intersecting commit") {
    q("q_snapshot_skipping").collect() // force the staged build
    val t = Wave8.skipStagedTable(spark, sf)
    val (lo, hi) = (Wave8.days("1997-06-01"), Wave8.days("1998-06-01"))
    val all = t.liveFiles(t.version)
    val pruned = t.pruneFiles(t.version, KeyRange.Longs("o_date_days", lo, hi))
    // the [97-06, 98-06] window lies inside commit 2's [97-01, 99-01)
    // batch: only v2- files survive, and the skip is real
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(pruned.forall(_.contains("/v2-")))
    // every file of the table carries stats for the ingest column
    assert(all.forall(p => t.zoneMaps.get(p).exists(_.contains("o_date_days"))))
    // pruning is conservative: a column with no stats keeps everything
    assert(t.pruneFiles(t.version, KeyRange.Longs("no_such_col", 0, 1)) == all)
    // a range beyond the data proves files can be skipped entirely
    assert(t.pruneFiles(t.version,
      KeyRange.Longs("o_date_days", -5000, -4000)).isEmpty)
    assert(t.asOfWhere(t.version,
      KeyRange.Longs("o_date_days", -5000, -4000)).isEmpty)
  }

  test("commit protocol: two writers race, exactly one wins") {
    import graft.sources.SnapshotLog
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files
      .createTempDirectory("graft_race_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus")).limit(100)
    t.commitAppend(orders, "o_orderstatus")
    val base = t.version
    // both writers plan against the SAME snapshot and commit
    // concurrently: the put-if-absent segment publish (or the
    // pre-flight) must let exactly one through
    def attempt(): Future[Boolean] = Future {
      val w = new SnapshotLog.Table(spark, root)
      try { w.commitAppend(orders, "o_orderstatus",
        expectedVersion = base); true }
      catch { case _: java.util.ConcurrentModificationException => false }
    }
    val results = Await.result(
      Future.sequence(Seq(attempt(), attempt())), 120.seconds)
    assert(results.count(identity) == 1, s"winners: $results")
    assert(t.version == base + 1)
    // the log shows no duplicate version and no interleaved garbage
    val byV = t.entries.groupBy(_.version)
    assert(byV(base + 1).filter(_.action == "add").nonEmpty)
    assert(t.entries.map(_.version).distinct.sorted ==
      (1 to base + 1).toSeq)
    // the loser reclaimed its adopted files: no orphans remain
    assert(t.orphanFiles().isEmpty)
    // and the segment-level CAS itself: publishing an existing version
    // again must throw, leaving the winner's segment untouched
    intercept[java.util.ConcurrentModificationException] {
      t.publishSegment(base + 1,
        Seq(SnapshotLog.Entry(base + 1, "add", "bogus/x.parquet")))
    }
    assert(!t.entries.exists(_.path == "bogus/x.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("commit log is O(delta): segments are immutable, one per commit") {
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_seg_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    t.commitAppend(orders.limit(50), "o_orderstatus")
    val seg1 = java.nio.file.Paths.get(root, "log", "1.csv")
    val bytes1 = java.nio.file.Files.readAllBytes(seg1)
    t.commitAppend(orders.filter(col("o_orderkey") > 500), "o_orderstatus")
    t.commitDeletePartition("o_orderstatus", "F")
    // three commits -> exactly three segment files, and commit 1's
    // segment is byte-identical: later commits never reopened it, so
    // (a) commit I/O was O(delta) and (b) no crash while committing
    // 2 or 3 could have damaged 1 — history is physically immutable
    val segNames = new java.io.File(s"$root/log").listFiles()
      .map(_.getName).filter(_.endsWith(".csv")).sorted.toSeq
    assert(segNames == Seq("1.csv", "2.csv", "3.csv"))
    assert(java.nio.file.Files.readAllBytes(seg1).sameElements(bytes1))
    // each segment carries only its own version's entries
    assert(t.entries.filter(_.version == 2).nonEmpty)
    assert(scala.io.Source.fromFile(s"$root/log/2.csv").getLines()
      .forall(_.startsWith("2,")))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("crash seam: adopted-but-unpublished files are invisible orphans") {
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_orph_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    t.commitAppend(orders.limit(100), "o_orderstatus")
    val n1 = t.asOf(1).count()
    // simulate a writer that died between adopt and publish: a data
    // file lands under data/ with a version prefix no segment covers
    val live = t.liveFiles(1).head
    val (dir, leaf) = (live.split('/')(0), live.split('/')(1))
    val orphanRel = s"$dir/v99-crashed-$leaf"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$root/data/$live"),
      java.nio.file.Paths.get(s"$root/data/$orphanRel"))
    // invisible to reads (the manifest, not the directory, is truth)
    assert(t.asOf(t.version).count() == n1)
    assert(t.orphanFiles() == Seq(orphanRel))
    // re-commit is unaffected (fresh adopted names never collide)
    t.commitAppend(orders.filter(col("o_orderkey") > 900),
      "o_orderstatus")
    assert(t.asOf(t.version).count() > n1)
    // vacuum never touches orphans (an in-flight commit's files look
    // identical); the explicit orphan pass reclaims them
    assert(!t.vacuum(retainVersions = 0).contains(orphanRel))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/data/$orphanRel")))
    assert(t.cleanOrphans() == Seq(orphanRel))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/data/$orphanRel")))
    assert(t.orphanFiles().isEmpty)
    assert(t.asOf(t.version).count() > n1) // reads intact throughout
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("merge prunes candidate files by the source's key range") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_mprune_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    // two appends with disjoint key ranges -> per-file zone maps on k
    t.commitAppend((1L to 100L).map(k => (k, "a", k * 10L))
      .toDF("k", "part", "v"), "part")
    t.commitAppend((101L to 200L).map(k => (k, "a", k * 10L))
      .toDF("k", "part", "v"), "part")
    val live = t.liveFiles(2).size
    // a source whose keys live entirely in the second append's range:
    // the hit-finding scan must read strictly fewer files than live
    val v3 = t.commitMerge(
      Seq((150L, "a", 9999L), (160L, "a", 8888L)).toDF("k", "part", "v"),
      "part", "k")
    val (scanned, total) = t.lastMergeScan.get
    assert(total == live && scanned < live && scanned > 0,
      s"scanned $scanned of $total")
    // pruning changed WHAT WAS READ, not the answer
    val out = t.asOf(v3)
    assert(out.count() == 200)
    assert(out.filter(col("k") === 150L).head().getAs[Long]("v") == 9999L)
    assert(out.filter(col("k") === 1L).head().getAs[Long]("v") == 10L)
    // commit-1 files survived untouched (no remove entries for them)
    assert(!t.entries.exists(e => e.version == v3 &&
      e.action == "remove" && e.path.contains("/v1-")))
    // a source OUTSIDE every file's range: zero candidates, pure insert
    val v4 = t.commitMerge(Seq((999L, "a", 1L)).toDF("k", "part", "v"),
      "part", "k")
    assert(t.lastMergeScan.get._1 == 0)
    assert(t.asOf(v4).count() == 201)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("zone maps cover date and string columns, not just longs") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_zmtyp_spec_").toString
    val t = new SnapshotLog.Table(spark, root)
    def day(s: String) = java.sql.Date.valueOf(s)
    def days(s: String) = java.time.LocalDate.parse(s).toEpochDay
    // two appends with disjoint date ranges and disjoint name ranges
    t.commitAppend(Seq(
      (1L, "a", day("1997-01-10"), "alpha"),
      (2L, "a", day("1997-03-20"), "bravo")).toDF("k", "part", "d", "nm"),
      "part")
    t.commitAppend(Seq(
      (3L, "a", day("1999-06-01"), "victor"),
      (4L, "a", day("1999-08-15"),
        "zulu-with-a-suffix-longer-than-sixteen-chars"))
      .toDF("k", "part", "d", "nm"), "part")
    val all = t.liveFiles(2)
    // DATE column (parquet INT32/date): pruning by epoch-day range
    val d97 = t.pruneFiles(2,
      KeyRange.Longs("d", days("1997-01-01"), days("1997-12-31")))
    assert(d97.nonEmpty && d97.forall(_.contains("/v1-")) &&
      d97.size < all.size)
    assert(t.pruneFiles(2, KeyRange.Longs("d", days("2005-01-01"),
      days("2005-12-31"))).isEmpty)
    // STRING column: byte-order bounds with truncation-safe upper
    val sLo = t.pruneFiles(2, KeyRange.Strings("nm", "aaaa", "c"))
    assert(sLo.nonEmpty && sLo.forall(_.contains("/v1-")) &&
      sLo.size < all.size)
    // the >16-char value: its file must still match a range that only
    // its TRUE value (not a naive truncation) intersects
    val sHi = t.pruneFiles(2, KeyRange.Strings("nm", "zulu-with-a-suffix-l", "zz"))
    assert(sHi.nonEmpty && sHi.forall(_.contains("/v2-")))
    assert(t.pruneFiles(2, KeyRange.Strings("nm", "zzz", "zzzz")).isEmpty)
    // the pruned read + row filter equals the full read + row filter
    val full = t.asOf(2)
      .filter(col("d").between(day("1997-01-01"), day("1997-12-31")))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val pruned = t.asOfWhere(2, KeyRange.Longs("d", days("1997-01-01"),
      days("1997-12-31"))).get
      .filter(col("d").between(day("1997-01-01"), day("1997-12-31")))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(full == pruned && full == Seq(1L, 2L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("cdf source: startingVersion skips history for new consumers") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft_cdfsv_")
    val t = new SnapshotLog.Table(spark, base.resolve("tbl").toString)
    t.commitAppend(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "part", "v"), "part")
    t.commitAppend(Seq((3L, "a", 30L)).toDF("k", "part", "v"), "part")
    def run(name: String, ckpt: String, opts: Map[String, String]): Unit = {
      val q = spark.readStream
        .format("graft.sources.SnapshotCdfSource")
        .option("path", t.root).option("partCol", "part")
        .option("schema.ddl", "k LONG, v LONG")
        .options(opts)
        .load()
        .groupBy("_change")
        .agg(count(lit(1)).as("n"), min(col("_version")).as("minv"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    // startingVersion=1: a NEW consumer sees only commits > 1
    run("cdf_sv1", base.resolve("c1").toString,
      Map("startingVersion" -> "1"))
    val got = spark.table("cdf_sv1").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("insert" -> (1L, 2L))) // k=3 only, version 2
    // startingVersion=latest: nothing until a NEW commit lands
    run("cdf_svl", base.resolve("c2").toString,
      Map("startingVersion" -> "latest"))
    assert(spark.table("cdf_svl").isEmpty)
    t.commitAppend(Seq((4L, "b", 40L)).toDF("k", "part", "v"), "part")
    // restart from the same checkpoint: the durable offset resumes
    // (exactly the startingVersion resolved at first start), so ONLY
    // commit 3 arrives — restart semantics unchanged
    run("cdf_svl", base.resolve("c2").toString,
      Map("startingVersion" -> "latest"))
    val got2 = spark.table("cdf_svl").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 == Map("insert" -> (1L, 3L))) // k=4 only, version 3
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("cluster split: near-dup pairs never straddle splits") {
    val rows = q("q_cluster_split").collect()
    assert(rows.map(_.getAs[String]("split")).toSet
      .subsetOf(Set("train", "val", "test")))
    // the in-query audit: zero leaking edges
    rows.foreach(r => assert(r.getAs[Long]("leak_edges") == 0L))
    // covers every document exactly once
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    // clusters partition the docs: n_clusters <= n_docs per split
    rows.foreach(r =>
      assert(r.getAs[Long]("n_clusters") <= r.getAs[Long]("n_docs")))
    // the split is cluster-deterministic: re-running yields identical
    // assignment (hash of the representative, no RNG)
    val again = q("q_cluster_split").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
