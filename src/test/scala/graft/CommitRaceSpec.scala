package graft

import org.apache.spark.sql.functions._
import graft.sources.{KeyRange, SnapshotLog}

/** Real-concurrency stress of the commit protocol: N threads race
  * commits through [[SnapshotLog.Table.withRetry]] against one table
  * root. The put-if-absent segment publish is the only arbiter — the
  * existing specs prove the CAS with SIMULATED interleavings; this one
  * lets the JVM scheduler generate them. */
class CommitRaceSpec extends SparkSpec {

  // Every scenario runs against BOTH binders: the POSIX/DFS filesystem
  // binder and the object-store conditional-PUT double — the protocol
  // must be binder-blind or its multi-writer story dies on S3-class
  // stores (no atomic rename, no link). See SnapshotLog.CommitBinder.
  for ((bname, binder) <- Seq(
      "posix" -> SnapshotLog.FsCommitBinder,
      "s3sim" -> SnapshotLog.ConditionalPutBinder)) {

  test(s"racing appenders all land exactly once, versions dense [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_race_").toString
    val nThreads = 4
    val perThread = 4
    // one handle per thread: handles share nothing but the filesystem
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root, binder = binder)
        (0 until perThread).foreach { b =>
          val keyBase = (tid * perThread + b) * 1000L
          val v = t.withRetry(maxAttempts = 50) { expected =>
            t.commitAppend(
              (keyBase until keyBase + 10L).map(k => (k, "x"))
                .toDF("k", "part").coalesce(1),
              "part", expectedVersion = expected)
          }
          landed.add(v)
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"writer thread died: ${errors.asScala.headOption}")
    val versions = landed.asScala.toSeq.sorted
    // every batch landed in its OWN version; versions are dense 1..N
    assert(versions == (1 to nThreads * perThread).toSeq,
      s"versions not dense/unique: $versions")
    val t = new SnapshotLog.Table(spark, root, binder = binder)
    // every row present exactly once — no lost batch, no double-adopt
    val rows = t.asOf(t.version).select("k").collect().map(_.getLong(0))
    assert(rows.length == nThreads * perThread * 10)
    assert(rows.distinct.length == rows.length)
    // losers cleaned their adopted files: nothing orphaned
    assert(t.orphanFiles().isEmpty, "lost-race files must be reclaimed")
    // the log itself is consistent: one segment or checkpointed tail
    assert(t.entries.count(_.action == "add") == nThreads * perThread)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"racing appenders with auto-compaction: rows exact, bound converges [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_raceac_").toString
    // the hostile combination: every append may trigger a partition
    // compaction (its own CAS commit), every 2 commits a checkpoint +
    // vacuum reclaims segments — so compact-vs-append collisions, the
    // post-bind reclaim guard, and the covered-commit recognition all
    // fire under real scheduling. Correctness bar: every appended row
    // exactly once, nothing orphaned, and the file bound converges.
    val nThreads = 4
    val perThread = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root,
          autoCheckpointEvery = 2, autoCompactAt = 3, binder = binder)
        (0 until perThread).foreach { b =>
          val keyBase = (tid * perThread + b) * 1000L
          t.withRetry(maxAttempts = 50) { expected =>
            t.commitAppend(
              (keyBase until keyBase + 5L).map(k => (k, "x"))
                .toDF("k", "part").coalesce(1),
              "part", expectedVersion = expected)
          }
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"writer thread died: ${errors.asScala.headOption}")
    val t = new SnapshotLog.Table(spark, root,
      autoCheckpointEvery = 2, autoCompactAt = 3, binder = binder)
    val rows = t.asOf(t.version).select("k").collect().map(_.getLong(0))
    assert(rows.length == nThreads * perThread * 5,
      s"row count drifted under compaction races: ${rows.length}")
    assert(rows.distinct.length == rows.length, "duplicated rows")
    assert(t.orphanFiles().isEmpty, "lost-race files must be reclaimed")
    // quiescent convergence: racing compactions may all have lost
    // their CAS, but one more append re-triggers the policy
    t.commitAppend(Seq((999999L, "x")).toDF("k", "part").coalesce(1),
      "part")
    val counts = t.liveFiles(t.version).groupBy(_.split('/').head)
      .map(_._2.size)
    assert(counts.forall(_ <= 3),
      s"auto-compaction did not converge: $counts files in a partition")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"racing appenders rebase metadata-only: one data write each [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_racerb_").toString
    // NO withRetry, NO expectedVersion: appends commute, so a lost
    // version race must rebase the already-adopted files onto the new
    // tip instead of throwing (liveness) or re-writing the batch
    // (throughput). One data file per append proves the single write.
    val nThreads = 4
    val perThread = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root, binder = binder)
        (0 until perThread).foreach { b =>
          val keyBase = (tid * perThread + b) * 1000L
          t.commitAppend(
            (keyBase until keyBase + 10L).map(k => (k, "x"))
              .toDF("k", "part").coalesce(1), "part")
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty,
      s"rebase must absorb version races: ${errors.asScala.headOption}")
    val t = new SnapshotLog.Table(spark, root, binder = binder)
    assert(t.version == nThreads * perThread, "versions dense")
    val rows = t.asOf(t.version).select("k").collect().map(_.getLong(0))
    assert(rows.length == nThreads * perThread * 10)
    assert(rows.distinct.length == rows.length, "no batch landed twice")
    // exactly one adopted file per append: the rebase re-stamped
    // metadata, it did not re-write data
    assert(t.liveFiles(t.version).size == nThreads * perThread,
      "a rebase re-wrote its batch instead of re-stamping")
    assert(t.orphanFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"reader folds stay consistent under concurrent checkpoint+vacuum [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_readvac_").toString
    // aggressive cadence: checkpoint+vacuum every 2 commits, so the
    // reader's list-then-parse window races real segment deletions
    val writer = new SnapshotLog.Table(spark, root,
      autoCheckpointEvery = 2, binder = binder)
    writer.commitAppend(Seq((0L, "x")).toDF("k", "part"), "part")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => try {
      val t = new SnapshotLog.Table(spark, root, binder = binder)
      while (!stop.get()) {
        val es = t.entries // must never throw on a vacuumed segment
        val adds = es.count(_.action == "add")
        assert(adds >= 1, s"fold lost history: $adds adds")
        // liveness fold over a consistent snapshot: no duplicates
        val live = t.liveFiles(t.version)
        assert(live.distinct.size == live.size)
      }
    } catch { case e: Throwable => errors.add(e) })
    reader.start()
    (1 to 24).foreach { i =>
      writer.commitAppend(Seq((i.toLong, "x")).toDF("k", "part")
        .coalesce(1), "part")
    }
    stop.set(true)
    reader.join(120000)
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"reader died: ${errors.asScala.headOption}")
    // the table converged: all 25 rows, bounded log
    assert(writer.asOf(writer.version).count() == 25)
    val segs = new java.io.File(s"$root/log").listFiles()
      .map(_.getName).count(_.endsWith(".csv"))
    assert(segs <= 4, s"$segs segments survived the auto-vacuum cadence")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"racing appenders with COLUMNAR checkpoints: exact rows [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_racepq_").toString
    // every checkpoint parquet (threshold 1) at an aggressive cadence:
    // the version-reclaim guard's point probe and the reader fold both
    // parse COLUMNAR checkpoints while appends, checkpoints and
    // vacuums race — the formats must be protocol-equivalent under
    // real scheduling, not just in the single-threaded spec
    val nThreads = 4
    val perThread = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root,
          autoCheckpointEvery = 2, parquetCheckpointAt = 1,
          binder = binder)
        (0 until perThread).foreach { b =>
          val keyBase = (tid * perThread + b) * 1000L
          t.withRetry(maxAttempts = 50) { expected =>
            t.commitAppend(
              (keyBase until keyBase + 5L).map(k => (k, "x"))
                .toDF("k", "part").coalesce(1),
              "part", expectedVersion = expected)
          }
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"writer died: ${errors.asScala.headOption}")
    val t = new SnapshotLog.Table(spark, root,
      autoCheckpointEvery = 2, parquetCheckpointAt = 1, binder = binder)
    val rows = t.asOf(t.version).select("k").collect().map(_.getLong(0))
    assert(rows.length == nThreads * perThread * 5, s"rows ${rows.length}")
    assert(rows.distinct.length == rows.length, "duplicated rows")
    assert(t.orphanFiles().isEmpty)
    // the log actually went columnar and vacuumed
    val logFiles = new java.io.File(s"$root/log").listFiles().map(_.getName)
    assert(logFiles.exists(_.endsWith(".ckpt.pq")),
      s"no columnar checkpoint in ${logFiles.toSeq}")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"racing IDENTITY appenders never double-assign [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_raceid_").toString
    // identity appends read the watermark, so they must NOT rebase a
    // lost race (a re-stamped batch would re-use the stale ids) —
    // withRetry recomputes ids against the new tip; the bar is ids
    // dense 1..N across every racer with zero duplicates
    val nThreads = 4
    val perThread = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root, binder = binder)
        (0 until perThread).foreach { b =>
          val keyBase = (tid * perThread + b) * 1000L
          t.withRetry(maxAttempts = 50) { expected =>
            t.commitAppendIdentity(
              (keyBase until keyBase + 5L).map(k => (k, "x"))
                .toDF("k", "part").coalesce(1),
              "part", "row_id", Seq(col("k")),
              expectedVersion = expected)
          }
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"writer died: ${errors.asScala.headOption}")
    val t = new SnapshotLog.Table(spark, root, binder = binder)
    val n = nThreads * perThread * 5
    val ids = t.asOf(t.version).select("row_id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.length == n && ids.head == 1L && ids.last == n &&
      ids.distinct.length == n,
      s"identity not dense under racing appenders: ${ids.take(20).toSeq}…")
    assert(t.identityWatermark("row_id") == n)
    assert(t.orphanFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test(s"racing MOR deleters: bindings never cross, all victims dead [$bname]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_racemor_").toString
    val seedT = new SnapshotLog.Table(spark, root, binder = binder)
    seedT.commitAppend((1L to 400L).map(k => (k, "x")).toDF("k", "part")
      .coalesce(4), "part")
    // four threads each MOR-delete a DISJOINT key slice; the sidecar
    // race guard (writer-unique ids) must keep every binding pointing
    // at its own writer's position set
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { tid =>
      new Thread(() => try {
        val t = new SnapshotLog.Table(spark, root, binder = binder)
        val ks = (1L to 400L).filter(_ % 4 == tid.toLong).take(10)
        t.withRetry(maxAttempts = 50) { expected =>
          t.commitDeleteKeysMor(ks.toDF("k"), "k",
            expectedVersion = expected)
        }
        ()
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty,
      s"deleter thread died: ${errors.asScala.headOption}")
    val t = new SnapshotLog.Table(spark, root, binder = binder)
    assert(t.version == 5, s"not all deletes landed: v=${t.version}")
    val live = t.asOfMor(t.version).select("k").collect()
      .map(_.getLong(0)).toSet
    // all four disjoint victim sets are dead — a cross-bound sidecar
    // would resurrect one thread's victims or kill extra rows
    val victims = (0 until 4).flatMap(tid =>
      (1L to 400L).filter(_ % 4 == tid.toLong).take(10)).toSet
    assert(live.size == 400 - 40, s"live ${live.size}")
    assert(victims.forall(k => !live.contains(k)))
    // orphaned (lost-race) sidecars were reclaimed by the losers
    t.cleanOrphans()
    assert(t.orphanDvFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
  }

  test("crashed writer between reservation and body: readers " +
    "unaffected, version recoverable [s3sim]") {
    import spark.implicits._
    // THE torn-commit seam the binder doc names: the writer wins the
    // conditional-PUT reservation and dies before the body lands. The
    // reservation then wedges that version — every successor computes
    // the same next-version and loses the same CAS — unless recovery
    // supersedes body-less reservations past the grace window.
    val root = java.nio.file.Files
      .createTempDirectory("graft_crash_").toString
    val t = new SnapshotLog.Table(spark, root,
      binder = SnapshotLog.ConditionalPutBinder)
    t.commitAppend(Seq((1L, "a", 10L)).toDF("k", "part", "v")
      .coalesce(1), "part")                                     // v1
    // inject: the next reservation winner crashes pre-body
    SnapshotLog.ConditionalPutBinder.crashNextBody = true
    intercept[SnapshotLog.SimulatedWriterCrash](
      t.commitAppend(Seq((2L, "a", 20L)).toDF("k", "part", "v")
        .coalesce(1), "part"))                                  // torn v2
    // readers tolerate the torn state: the version simply does not
    // exist — the tip is still v1 and reads it cleanly
    assert(t.version == 1)
    assert(t.asOf(1).count() == 1)
    // an IMMEDIATE successor loses the dead writer's reservation
    // (inside the grace window — a live writer must never be robbed).
    // Probed at the BINDER level: a full commit's write-job prep can
    // outlast the grace window and make the timing non-deterministic.
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    val probeTmp = new org.apache.hadoop.fs.Path(root, "_probe_tmp")
    val po = fs.create(probeTmp, true); po.write(1); po.close()
    intercept[java.util.ConcurrentModificationException](
      SnapshotLog.ConditionalPutBinder.putIfAbsent(fs, hconf,
        probeTmp, new org.apache.hadoop.fs.Path(s"$root/log/2.csv")))
    // past the grace window the reservation is superseded: the same
    // withRetry loop every production writer uses recovers v2
    Thread.sleep(
      SnapshotLog.ConditionalPutBinder.RecoveryGraceNanos / 1000000 + 100)
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    val v = t.withRetry(maxAttempts = 100) { expected =>
      assert(System.nanoTime < deadline, "recovery livelocked")
      t.commitAppend(Seq((3L, "a", 30L)).toDF("k", "part", "v")
        .coalesce(1), "part", expectedVersion = expected)
    }
    assert(v == 2, s"recovered commit must take the wedged version, got $v")
    assert(t.asOf(2).select("k").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
    // the crashed writer's residue is reclaimable orphans, not state
    t.cleanOrphans()
    assert(t.orphanFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  // the same seam under every rewrite shape: a commit that REMOVES
  // files wins the reservation and dies before its segment body lands.
  // Each op is (table, expectedVersion) => committed version.
  private val k23 = KeyRange.Longs("k", 2L, 3L)
  for ((op, rewrite) <- Seq[(String, (SnapshotLog.Table, Int) => Int)](
      "range delete" -> ((t, e) => t.commitDeleteRange(k23, e)),
      "range update" -> ((t, e) => t.commitUpdate(k23,
        Map("v" -> (col("v") + 1)), expectedVersion = e)),
      "replace-where" -> ((t, e) => {
        import spark.implicits._
        t.commitReplaceWhere(k23,
          Seq((2L, "a", 99L)).toDF("k", "part", "v"), e)
      }),
      "compaction" -> ((t, e) => t.commitCompact(expectedVersion = e)))) {
  test(s"crashed $op at the publish seam: tip unchanged, version " +
    "recoverable, orphans reclaimable [s3sim]") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_crashrw_").toString
    val t = new SnapshotLog.Table(spark, root,
      binder = SnapshotLog.ConditionalPutBinder)
    t.commitAppend(Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("k", "part", "v")
      .coalesce(1), "part")                                     // v1
    t.commitAppend(Seq((3L, "a", 30L), (4L, "a", 40L)).toDF("k", "part", "v")
      .coalesce(1), "part")                                     // v2
    def rows(v: Int) = t.asOfMor(v).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val before = rows(2)
    SnapshotLog.ConditionalPutBinder.crashNextBody = true
    intercept[SnapshotLog.SimulatedWriterCrash](rewrite(t, -1)) // torn v3
    // the torn rewrite is invisible: same tip, same rows
    assert(t.version == 2)
    assert(rows(2) == before)
    assert(t.orphanFiles().nonEmpty, "the torn rewrite adopted no files")
    // past the grace window the same withRetry loop every production
    // writer uses supersedes the dead reservation and takes v3
    Thread.sleep(
      SnapshotLog.ConditionalPutBinder.RecoveryGraceNanos / 1000000 + 100)
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    val v = t.withRetry(maxAttempts = 100) { expected =>
      assert(System.nanoTime < deadline, "recovery livelocked")
      rewrite(t, expected)
    }
    assert(v == 3, s"recovered $op must take the wedged version, got $v")
    // the crashed writer's adopted files are orphans, and reclaimable
    t.cleanOrphans()
    assert(t.orphanFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
  }

  test("crashed writer pre-publish leaves only orphans [posix]") {
    import spark.implicits._
    // the POSIX binder has no reservation seam (link(2) is atomic in
    // the kernel): a writer dying before publish leaves an orphaned
    // temp/adopted file and NOTHING else — the next writer takes the
    // version unimpeded. Modeled by adopting files without publishing
    // (stageAppend's layout) — here via a commit that dies in the
    // binder: inject by racing a pre-bound destination.
    val root = java.nio.file.Files
      .createTempDirectory("graft_crashfs_").toString
    val t = new SnapshotLog.Table(spark, root,
      binder = SnapshotLog.FsCommitBinder)
    t.commitAppend(Seq((1L, "a", 10L)).toDF("k", "part", "v")
      .coalesce(1), "part")                                     // v1
    // simulate the dead writer's residue: an adopted-but-unpublished
    // data file (exactly what a crash between adopt and publish leaves)
    val dd = new java.io.File(s"$root/data/part=a")
    val orphan = new java.io.File(dd, "v99-deadbeef.c000.snappy.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    assert(t.orphanFiles().nonEmpty)
    // readers and writers are unimpeded
    assert(t.asOf(1).count() == 1)
    t.commitAppend(Seq((2L, "a", 20L)).toDF("k", "part", "v")
      .coalesce(1), "part")                                     // v2
    assert(t.version == 2 && t.asOf(2).count() == 2)
    // and the residue is reclaimable
    t.cleanOrphans()
    assert(t.orphanFiles().isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }
}
