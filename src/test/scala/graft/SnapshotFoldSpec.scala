package graft

import org.apache.spark.sql.functions._
import graft.sources.{KeyRange, SnapshotLog}
import graft.sources.SnapshotLog.Entry

/** The manifest read path at manifest SCALE: the memoized fold
  * ([[SnapshotLog.FoldState]]) and the columnar (parquet) checkpoint
  * are what keep read planning sub-second when the live set is 10⁵
  * files — the scale where the previous per-call driver CSV parse
  * became hundreds of MB of text per query. */
class SnapshotFoldSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))

  test("columnar checkpoint round-trips the whole protocol") {
    import spark.implicits._
    // force EVERY checkpoint columnar (threshold 1): the same
    // auto-checkpoint + vacuum + time-travel + tag + wall-clock flows
    // must be format-blind
    val root = tmp("graft_pqckpt_spec_")
    val t = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 2,
      parquetCheckpointAt = 1)
    (1 to 5).foreach { i =>
      t.commitAppend(Seq((i.toLong, "a", i * 10L)).toDF("k", "part", "v"),
        "part")
    }
    // a columnar checkpoint exists and the covered segments are gone
    val ckpts = new java.io.File(s"$root/log").listFiles()
      .map(_.getName).filter(_.endsWith(".ckpt.pq"))
    assert(ckpts.nonEmpty, "no columnar checkpoint written")
    // every version still time-travels (checkpoint consolidates
    // verbatim: history, not just the tip)
    (1 to 5).foreach { v =>
      assert(t.asOf(v).count() == v, s"asOf($v)")
    }
    // meta stamps survive: wall-clock resolution still works
    assert(t.versionAsOfTimestamp(t.publishTimestamp(3)) == 3)
    // zone maps survive: the stats entries fold out of the parquet
    // checkpoint exactly as they did out of CSV
    assert(t.liveFiles(5).forall(p =>
      t.zoneMaps.get(p).exists(_.contains("k"))))
    // a FRESH handle (fresh fold, parquet parse path) agrees
    val t2 = new SnapshotLog.Table(spark, root)
    assert(t2.asOf(5).as[(Long, Long, String)].collect().length == 5)
    rm(root)
  }

  test("10^5-file manifest: first fold bounded, repeat plans sub-second") {
    // synthetic manifest at the 100 TB shape: 10 commits x 10k files,
    // each file carrying zone-map + size entries (410k entries total).
    // No data bytes — this pins the PLANNING cost, which must be
    // O(manifest) once and ~O(1) on repeat, never O(manifest) per read.
    val root = tmp("graft_foldbench_spec_")
    val t = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 0)
    (1 to 10).foreach { v =>
      val lines = (1 to 10000).flatMap { j =>
        val id = (v - 1) * 10000 + j
        val p = s"part=p/v$v-f$id.parquet"
        Seq(Entry(v, "add", p),
          Entry(v, "stats", s"$p|k|${id * 10L}|${id * 10L + 9}"),
          Entry(v, "fsize", s"$p|134217728"))
      }
      t.publishSegment(v, lines)
    }
    val cv = t.checkpointLog()
    assert(cv == 10)
    assert(new java.io.File(s"$root/log/10.ckpt.pq").exists,
      "a 410k-entry checkpoint must be columnar")
    t.vacuumLog()

    // first fold on a fresh handle: distributed parquet parse +
    // one LinkedHashSet fold — bounded (the old quadratic Vector
    // fold alone would take minutes at this count)
    val t0 = System.nanoTime
    val tFresh = new SnapshotLog.Table(spark, root)
    assert(tFresh.liveFiles(10).size == 100000)
    val firstSec = (System.nanoTime - t0) / 1e9
    assert(firstSec < 30.0, f"first fold took $firstSec%.1f s")

    // repeat plans: NEW handles (the memo is keyed by root, the way
    // per-query code constructs tables), live set + zone prune each
    // time — sub-second apiece
    val t1 = System.nanoTime
    val reps = 20
    (1 to reps).foreach { _ =>
      val th = new SnapshotLog.Table(spark, root)
      assert(th.liveFiles(10).size == 100000)
      // zone prune over the memoized stats: narrow band keeps ~1 file
      val hits = th.pruneFiles(10, KeyRange.Longs("k", 500005L, 500050L))
      assert(hits.nonEmpty && hits.size < 100, s"prune kept ${hits.size}")
    }
    val perRep = (System.nanoTime - t1) / 1e9 / reps
    assert(perRep < 1.0, f"repeat plan took $perRep%.2f s")

    // the fold extends INCREMENTALLY: one more segment parses only
    // itself (correctness check; the timing above already proves the
    // cached path)
    t.publishSegment(11, Seq(Entry(11, "remove", "part=p/v1-f1.parquet")))
    assert(new SnapshotLog.Table(spark, root).liveFiles(11).size == 99999)
    rm(root)
  }

  test("10^5-file plan-time pruning is sub-second driver arithmetic") {
    // the FileIndex layer on top of the fold: listFiles with a range
    // conjunct over 100k synthetic files (zone maps + manifest sizes,
    // no filesystem objects at all — statuses fabricate from fsize
    // entries) must prune at plan time in well under a second
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{LongType, StructType}
    val n = 100000
    val files = (1 to n).map(i => s"part=p/v1-f$i.parquet")
    val zl = files.zipWithIndex.map { case (f, i) =>
      f -> Map("k" -> (i * 10L, i * 10L + 9L))
    }.toMap
    val sizes = files.map(_ -> 134217728L).toMap
    val idx = new org.apache.spark.sql.graft.SnapshotFileIndex(
      spark, "/nonexistent/data", files, new StructType(),
      zl, Map.empty, Map.empty, sizes, Set.empty,
      (fs, _, _) => fs, (_, _) => ())
    val k = AttributeReference("k", LongType)()
    val band = Seq(
      GreaterThanOrEqual(k, Literal(500000L)),
      LessThanOrEqual(k, Literal(500990L)))
    val t0 = System.nanoTime
    val parts = idx.listFiles(Nil, band)
    val planSec = (System.nanoTime - t0) / 1e9
    val kept = parts.map(_.files.length).sum
    assert(kept >= 99 && kept <= 101, s"prune kept $kept of $n")
    assert(planSec < 1.0, f"plan-time prune took $planSec%.2f s")
    // repeat plans amortize the lazy status/partition maps
    val t1 = System.nanoTime
    (1 to 10).foreach(_ => idx.listFiles(Nil, band))
    val rep = (System.nanoTime - t1) / 1e9 / 10
    assert(rep < 0.2, f"repeat plan took $rep%.3f s")
  }

  test("column mapping: DML after rename targets the renamed column") {
    import spark.implicits._
    val root = tmp("graft_colmap_spec_")
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 20L).map(k => (k, "x", k * 10))
      .toDF("k", "part", "v").coalesce(1), "part")          // v1
    t.renameColumn("v", "val2")                             // v2
    // range delete addressed by the NEW logical name: victims carry
    // the physical column, the keep predicate must still hit it
    t.commitDeleteRange("part", KeyRange.Longs("val2", 10L, 30L)) // v3: k=1..3
    // merge (COW) with the batch speaking the new name
    t.commitMerge(Seq((4L, "x", 999L), (21L, "x", 210L))
      .toDF("k", "part", "val2").coalesce(1), "part", "k")  // v4
    // MOR upsert, same contract
    t.commitMergeMor(Seq((5L, "x", 888L)).toDF("k", "part", "val2")
      .coalesce(1), "part", "k")                            // v5
    val now = t.asOfMor(t.version).select("k", "val2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (4L to 20L).map(k => k -> k * 10).toMap ++
      Map(4L -> 999L, 21L -> 210L, 5L -> 888L)
    assert(now == expect, s"diverged: ${now.toSeq.sorted}")
    // time travel BELOW the rename speaks the original name
    assert(t.asOf(1).columns.contains("v") &&
      !t.asOf(1).columns.contains("val2"))
    // drop retires the PHYSICAL column ("v", the pre-rename name):
    // re-introducing THAT name must be rejected loudly (old files
    // still carry physical "v" bytes — a new logical "v" would bind
    // to them); re-using the dropped LOGICAL name ("val2") is plain
    // additive evolution (fresh physical), allowed
    t.dropColumn("val2")                                    // v6
    assert(!t.asOf(t.version).columns.contains("val2"))
    intercept[IllegalArgumentException] {
      t.commitAppend(Seq((99L, "x", 1L)).toDF("k", "part", "v"),
        "part")
    }
    // rename-to-taken-name is rejected
    intercept[IllegalArgumentException] {
      t.renameColumn("k", "part")
    }
    rm(root)
  }

  test("column mapping: a range update prunes by its own column when " +
    "another column took its physical name") {
    import spark.implicits._
    val root = tmp("graft_colmap_swap_")
    val t = new SnapshotLog.Table(spark, root)
    // file 1: a in 1..5, c in 100..105; file 2: a in 10..15, c in 1..5
    t.commitAppend((1L to 5L).map(i => (i, "x", i, 100L + i))
      .toDF("k", "part", "a", "c").coalesce(1), "part")     // v1
    t.commitAppend((10L to 15L).map(i => (i, "x", i, i - 9L))
      .toDF("k", "part", "a", "c").coalesce(1), "part")     // v2
    t.renameColumn("a", "b")                                // v3
    t.renameColumn("c", "a")                                // v4
    // logical b is physical a; logical a is physical c. The prune must
    // map b once (to a), never twice (to c, which is file 2's range)
    t.commitUpdate("part", KeyRange.Longs("b", 1L, 5L),
      Map("k" -> (col("k") + 1000L)))                       // v5
    assert(t.asOf(t.version).filter(col("k") > 1000L).count() == 5)
    rm(root)
  }

  test("column mapping survives a zero-copy clone, including swap cycles") {
    import spark.implicits._
    val root = tmp("graft_colmapclone_")
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 5L).map(k => (k, "x", k * 10, k + 100))
      .toDF("a", "part", "b", "scratch").coalesce(1), "part") // v1
    // swap a and b via temp — the history whose FOLDED state cannot be
    // replayed as naive sequential renames (cycle) — then drop scratch
    t.renameColumn("a", "tmp")                                // v2
    t.renameColumn("b", "a")                                  // v3
    t.renameColumn("tmp", "b")                                // v4
    t.dropColumn("scratch")                                   // v5
    val srcCols = t.asOf(t.version).columns.toSet
    assert(srcCols == Set("a", "b", "part"), s"src: $srcCols")
    // swapped values: logical a now reads the ORIGINAL b column
    assert(t.asOf(t.version).filter(col("b") === 1L)
      .select("a").collect().map(_.getLong(0)).toSeq == Seq(10L))
    val cloneRoot = tmp("graft_colmapclone2_")
    val c = new SnapshotLog.Table(spark, cloneRoot)
    c.commitCloneFrom(t, t.version)
    val cloneCols = c.asOf(1).columns.toSet
    assert(cloneCols == Set("a", "b", "part"),
      s"clone lost the mapping: $cloneCols")
    assert(c.asOf(1).filter(col("b") === 1L)
      .select("a").collect().map(_.getLong(0)).toSeq == Seq(10L),
      "clone must read the swapped columns like the source")
    // and the clone's own evolution stays independent
    c.renameColumn("a", "a2")
    assert(t.asOf(t.version).columns.contains("a"),
      "clone rename leaked into the source")
    rm(root); rm(cloneRoot)
  }

  test("renaming the PARTITION column keeps writes, prunes and reads aligned") {
    import spark.implicits._
    val root = tmp("graft_colmappart_")
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "x", 10L), (2L, "y", 20L))
      .toDF("k", "part", "v").coalesce(1), "part")            // v1
    t.renameColumn("part", "grp")                             // v2
    // append under the NEW logical partition name
    t.commitAppend(Seq((3L, "x", 30L)).toDF("k", "grp", "v")
      .coalesce(1), "grp")                                    // v3
    // one layout: the physical dir name never changed
    val dirs = t.liveFiles(3).map(_.split('/').head).distinct
    assert(dirs.forall(_.startsWith("part=")), s"layouts: $dirs")
    // discovery read surfaces the logical name; filters on it work
    val byAsOf = t.asOf(3).filter(col("grp") === "x")
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(byAsOf == Seq(1L, 3L), s"asOf: $byAsOf")
    // pruned scan: the partition FILTER (exact, trusted by Spark)
    // crosses the rename projection into the FileIndex
    val byScan = t.scanAsOf(3).filter(col("grp") === "x")
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(byScan == Seq(1L, 3L), s"scanAsOf: $byScan")
    // partition-keyed delete under the logical name
    t.commitDeletePartition("grp", "y")                       // v4
    assert(t.asOf(4).select("k").collect().map(_.getLong(0)).toSeq.sorted ==
      Seq(1L, 3L))
    rm(root)
  }

  test("constrained columns refuse rename/drop; staged reads speak logical") {
    import spark.implicits._
    val root = tmp("graft_colmapcons_")
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(Seq((1L, "x", 10L)).toDF("k", "part", "v"), "part")
    t.addConstraint("v_pos", "v > 0")
    // a rename/drop of a constrained column would silently break the
    // expression's binding — refused until the constraint drops
    intercept[IllegalArgumentException] { t.renameColumn("v", "val2") }
    intercept[IllegalArgumentException] { t.dropColumn("v") }
    t.dropConstraint("v_pos")
    t.renameColumn("v", "val2")
    // constraints added AFTER the rename speak the new name and gate
    // the WAP audit surface too: stagedRead surfaces LOGICAL names
    // (physical files carry "v"), so the publish-time check binds
    t.addConstraint("val2_pos", "val2 > 0")
    t.stageAppend(Seq((2L, "x", 20L)).toDF("k", "part", "val2"),
      "part", "b1")
    assert(t.stagedRead("b1").columns.contains("val2"),
      s"staged audit saw ${t.stagedRead("b1").columns.toSeq}")
    t.publishStaged("b1")
    assert(t.asOf(t.version).count() == 2)
    // and a violating staged batch is rejected at publish
    t.stageAppend(Seq((3L, "x", -5L)).toDF("k", "part", "val2"),
      "part", "b2")
    intercept[IllegalArgumentException] { t.publishStaged("b2") }
    t.dropStaged("b2")
    rm(root)
  }

  test("CDF reads renamed columns under their declared logical names") {
    import spark.implicits._
    val root = tmp("graft_colmapcdf_")
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1L to 3L).map(k => (k, "x", k * 10))
      .toDF("k", "part", "v").coalesce(1), "part")            // v1
    t.renameColumn("v", "val2")                               // v2
    t.commitAppend(Seq((4L, "x", 40L)).toDF("k", "part", "val2")
      .coalesce(1), "part")                                   // v3
    // consumer declares the CURRENT logical names; v1's files carry
    // physical "v" — without the mapping those rows null-fill silently
    val feed = spark.read.format("graft.sources.SnapshotCdfSource")
      .option("path", root).option("partCol", "part")
      .option("schema.ddl", "k LONG, val2 LONG")
      .option("startingVersion", "0")
      .load().select("k", "val2", "_change")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(feed.toSet ==
      (1L to 4L).map(k => (k, k * 10, "insert")).toSet,
      s"feed lost renamed-column values: ${feed.toSeq.sorted}")
    rm(root)
  }

  test("fold cache survives delete-and-recreate at the same root") {
    import spark.implicits._
    // A long-lived session drops a table and recreates it at the SAME
    // root: versions restart at 1, so the new log regenerates the same
    // file NAMES (1.csv, 2.csv, ...). A name-only cache key would then
    // serve the DEAD table's fold — loud FNF on data reads, but
    // silently-wrong metadata-only reads (identity watermark, zone
    // maps, colmap). The key must be content-derived (len+mtime).
    val root = tmp("graft_rootreuse_")
    val t1 = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 0)
    (1 to 2).foreach { i =>
      t1.commitAppendIdentity(
        Seq(("a", i * 100L), ("a", i * 100L + 1)).toDF("part", "v"),
        "part", "id", Seq(col("v")))
    }
    assert(t1.identityWatermark("id") == 4L)
    t1.renameColumn("v", "metric") // v3: colmap history on the OLD table
    // prime the cache through a FRESH handle too (same root key)
    assert(new SnapshotLog.Table(spark, root).asOf(2).count() == 4)

    // drop the table entirely and recreate at the same root
    rm(root)
    val t2 = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 0)
    t2.commitAppend(Seq(("b", 7L)).toDF("part", "v"), "part") // 1.csv again
    // metadata-only reads must reflect the NEW table, not the cached fold
    assert(t2.identityWatermark("id") == 0L,
      "identity watermark served from the dead table's fold")
    assert(t2.columnMapping(1)._1.isEmpty,
      "column mapping served from the dead table's fold")
    assert(t2.asOf(1).select("v").as[Long].collect().toSeq == Seq(7L))
    // and a second fresh handle (fresh fold resolution) agrees
    val t3 = new SnapshotLog.Table(spark, root)
    assert(t3.version == 1 && t3.asOf(1).count() == 1)
    rm(root)
  }

  test("fold cache distinguishes same-length same-mtime recreations " +
    "(instance marker)") {
    import spark.implicits._
    // the `len:mtime` content key has one residual collision: a
    // delete-and-recreate whose regenerated log files have the SAME
    // byte length and land within the SAME mtime tick (S3 mtimes are
    // second-granular). The `_instance-<uuid>` marker name breaks the
    // tie — its name changes on every recreation and rides the same
    // listStatus the fold key already performs.
    val root = tmp("graft_mtick_")
    def build(): SnapshotLog.Table = {
      val t = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 0)
      // identical VALUES both times: the only difference between the
      // two incarnations is the data-file uuids (equal length), so
      // 1.csv's length matches exactly across the recreation
      t.commitAppend(Seq(("a", 7L)).toDF("part", "v"), "part")
      t
    }
    val t1 = build()
    assert(t1.asOf(1).count() == 1) // prime the fold cache
    val oldFiles = t1.liveFiles(1)
    val logDir = new java.io.File(s"$root/log")
    val oldTimes = logDir.listFiles().map(f =>
      f.getName -> f.lastModified()).toMap
    val oldLen = new java.io.File(logDir, "1.csv").length()

    rm(root)
    val t2 = build()
    // force the collision: pin every regenerated log file (and any
    // new ones) to the OLD mtimes, so `name@len:mtime` is identical
    logDir.listFiles().foreach { f =>
      f.setLastModified(oldTimes.getOrElse(f.getName, // new names keep
        f.lastModified()))                            // their own time
    }
    // sanity: the segment really does collide on name+len+mtime
    val seg = new java.io.File(logDir, "1.csv")
    assert(oldTimes.contains("1.csv") &&
      seg.lastModified() == oldTimes("1.csv"),
      "fixture failed to pin the mtime")
    assert(seg.length() == oldLen,
      "fixture regression: regenerated 1.csv changed length, the " +
        "collision this test pins no longer reproduces")
    val newFiles = t2.liveFiles(1)
    assert(newFiles != oldFiles,
      "fold cache served the dead table's file list across a " +
        "same-length same-mtime recreation")
    assert(t2.asOf(1).select("v").as[Long].collect().toSeq == Seq(7L))
    rm(root)
  }
}
