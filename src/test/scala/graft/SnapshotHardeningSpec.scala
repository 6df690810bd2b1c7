package graft

import org.apache.spark.sql.functions._
import graft.sources.{KeyRange, SnapshotLog}

/** Round-9 storage-layer hardening contracts: pruning parity for
  * non-integer merge keys, bloom-assisted merge candidates, NULL-safe
  * range deletes, every-N auto-checkpointing, and sidecar degradation
  * (torn files and header-k skew must never produce wrong answers). */
class SnapshotHardeningSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))

  test("merge prunes string-keyed candidates via the string zone maps") {
    import spark.implicits._
    val root = tmpRoot("smergestr")
    val t = new SnapshotLog.Table(spark, root)
    // three commits, each clustered on a disjoint key prefix — the
    // string zone maps separate them exactly
    Seq("a", "b", "c").foreach { p =>
      t.commitAppend((0 until 40).map(i => (f"$p$i%03d", "x", i.toLong))
        .toDF("k", "part", "v").coalesce(1), "part")
    }
    val live = t.liveFiles(t.version).size
    val src = Seq(("b005", "x", 999L), ("b017", "x", 888L))
      .toDF("k", "part", "v")
    t.commitMerge(src, "part", "k")
    val Some((cand, liveAt)) = t.lastMergeScan
    assert(liveAt == live)
    assert(cand < live, s"string merge scanned $cand of $live — no pruning")
    // value contract: updates landed, everything else untouched
    val after = t.asOf(t.version)
    assert(after.count() == 120)
    assert(after.filter(col("k") === "b005").head().getAs[Long]("v") == 999L)
    assert(after.filter(col("k") === "a005").head().getAs[Long]("v") == 5L)
    rm(root)
  }

  test("merge prunes date-keyed candidates via the epoch-day zone maps") {
    import spark.implicits._
    val root = tmpRoot("smergedate")
    val t = new SnapshotLog.Table(spark, root)
    // one commit per year — date zone maps (INT32 epoch days) disjoint
    Seq(1995, 1996, 1997).foreach { y =>
      t.commitAppend((1 to 30)
        .map(d => (java.sql.Date.valueOf(f"$y-01-$d%02d"), "x", d.toLong))
        .toDF("k", "part", "v").coalesce(1), "part")
    }
    val live = t.liveFiles(t.version).size
    val src = Seq((java.sql.Date.valueOf("1996-01-05"), "x", 777L))
      .toDF("k", "part", "v")
    t.commitMerge(src, "part", "k")
    val Some((cand, liveAt)) = t.lastMergeScan
    assert(cand < liveAt, s"date merge scanned $cand of $liveAt")
    val after = t.asOf(t.version)
    assert(after.count() == 90)
    assert(after.filter(col("k") === "1996-01-05").head()
      .getAs[Long]("v") == 777L)
    rm(root)
  }

  test("bloom probe cuts merge candidates below the range-stat set") {
    import spark.implicits._
    val root = tmpRoot("smergebloom")
    // keys INTERLEAVED across commits: every file's [min,max] spans the
    // domain, so the range prune keeps everything — membership is the
    // only signal that can help, exactly the point-lookup argument on
    // the write path
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    (0 until 3).foreach { r =>
      t.commitAppend((0 until 60).map(i => (i.toLong * 3 + r, "x", r.toLong))
        .toDF("k", "part", "v").coalesce(1), "part")
    }
    val live = t.liveFiles(t.version).size
    assert(live >= 3)
    // range-only truth: the source key range spans all files
    assert(t.pruneFiles(t.version, KeyRange.Longs("k", 30L, 31L)).size == live,
      "fixture broken: range stats were supposed to be useless here")
    val src = Seq((30L, "x", 123L)).toDF("k", "part", "v") // lives in r=0
    t.commitMerge(src, "part", "k")
    val Some((cand, liveAt)) = t.lastMergeScan
    assert(cand < liveAt,
      s"bloom probe kept $cand of $liveAt — no gain over range stats")
    val after = t.asOf(t.version)
    assert(after.count() == 180)
    assert(after.filter(col("k") === 30L).head().getAs[Long]("v") == 123L)
    rm(root)
  }

  test("range delete preserves NULL-keyed rows in rewritten files") {
    import spark.implicits._
    // once per key kind a range delete rewrites (long, string, date)
    val day = java.time.LocalDate.parse(_: String)
    val cases = Seq(
      ("long", Seq[java.lang.Long](1L, 5L, null, 9L, null).toDF("k"),
        KeyRange.Longs("k", 4L, 6L), lit(5L)),
      ("string", Seq("a", "e", null, "i", null).toDF("k"),
        KeyRange.Strings("k", "d", "f"), lit("e")),
      ("date", Seq(day("2026-01-01"), day("2026-01-05"), null,
        day("2026-01-09"), null).toDF("k"),
        KeyRange.Dates("k", day("2026-01-04").toEpochDay.toInt,
          day("2026-01-06").toEpochDay.toInt), lit(day("2026-01-05"))))
    cases.foreach { case (kind, keys, range, hit) =>
      val root = tmpRoot(s"snulldel$kind")
      val t = new SnapshotLog.Table(spark, root)
      t.commitAppend(keys.withColumn("part", lit("x")).coalesce(1), "part")
      // the file HAS stats for k (nulls plus values), intersects the
      // range → it is rewritten; SQL DELETE WHERE k BETWEEN lo AND hi
      // must not match the NULL rows
      t.commitDeleteRange("part", range)
      val after = t.asOf(t.version)
      assert(after.count() == 4, s"[$kind] NULL-keyed rows were destroyed")
      assert(after.filter(col("k").isNull).count() == 2)
      assert(after.filter(col("k") === hit).count() == 0)
      rm(root)
    }
  }

  test("string range delete: COW blast radius is the string-stat set") {
    import spark.implicits._
    val root = tmpRoot("sstrdel")
    val t = new SnapshotLog.Table(spark, root)
    Seq("a", "b", "c").foreach { p =>
      t.commitAppend((0 until 20).map(i => (f"$p$i%03d", "x"))
        .toDF("k", "part").coalesce(1), "part")
    }
    val before = t.liveFiles(t.version)
    val v = t.commitDeleteRange("part", KeyRange.Strings("k", "b000", "b009"))
    // only the b-file was rewritten: the others carry over by reference
    val removed = before.filterNot(t.liveFiles(v).contains)
    assert(removed.size == 1, s"rewrote ${removed.size} files, wanted 1")
    val after = t.asOf(v)
    assert(after.count() == 50)
    assert(after.filter(col("k").between("b000", "b009")).count() == 0)
    assert(after.filter(col("k").startsWith("a")).count() == 20)
    rm(root)
  }

  test("auto-checkpoint: a 50-commit table keeps an O(N)-bounded tail") {
    import spark.implicits._
    val root = tmpRoot("sautockpt")
    val t = new SnapshotLog.Table(spark, root) // default: every 10
    (1 to 50).foreach { i =>
      t.commitAppend(Seq((i.toLong, "x")).toDF("k", "part").coalesce(1),
        "part")
    }
    val log = new java.io.File(s"$root/log")
    val names = log.listFiles().map(_.getName)
    val ckpts = names.filter(_.endsWith(".ckpt"))
      .map(_.stripSuffix(".ckpt").toInt)
    assert(ckpts.nonEmpty, "no auto-checkpoint was written")
    val cv = ckpts.max
    assert(cv >= 40, s"latest checkpoint lags: $cv")
    assert(t.version - cv <= 10, s"uncheckpointed tail: ${t.version - cv}")
    // the checkpoint never contains entries beyond its version (the
    // concurrent-commit seam: such entries would double-count after
    // vacuumLog keeps the > cv segments)
    val ckLines = scala.io.Source.fromFile(s"$root/log/$cv.ckpt")
      .getLines().map(_.split(",", 3)(0).toInt).toSeq
    assert(ckLines.nonEmpty && ckLines.max <= cv)
    // fold integrity across checkpoint + tail: all 50 rows live, once
    assert(t.asOf(t.version).count() == 50)
    assert(t.liveFiles(t.version).distinct.size ==
      t.liveFiles(t.version).size)
    // auto-vacuum already reclaimed the covered segments AND the
    // superseded checkpoints — no operator discipline involved: the
    // log dir holds ≤ tail segments + the latest checkpoint
    val names2 = log.listFiles().map(_.getName)
    val segs = names2.count(_.endsWith(".csv"))
    assert(segs <= 10, s"$segs segments survived the auto-vacuum")
    assert(names2.count(_.endsWith(".ckpt")) == 1,
      "superseded checkpoints must be reclaimed too")
    assert(t.asOf(t.version).count() == 50)
    rm(root)
  }

  test("deletion vectors survive the checkpoint + vacuumLog round-trip") {
    import spark.implicits._
    val root = tmpRoot("sdvckpt")
    val t = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 0)
    t.commitAppend((1L to 30L).map(k => (k, "x")).toDF("k", "part")
      .coalesce(1), "part")
    t.commitDeleteKeysMor(Seq(4L, 9L).toDF("k"), "k")     // v2
    t.commitDeleteKeysMor(Seq(9L, 16L).toDF("k"), "k")    // v3 supersede
    val before = t.asOfMor(3).orderBy("k").collect().map(_.getLong(0))
    // the checkpoint consolidates entries VERBATIM: dv bindings (and
    // their supersede order) must fold identically from ckpt + tail
    t.checkpointLog()
    t.vacuumLog()
    assert(t.dvFor(3).nonEmpty)
    assert(t.asOfMor(3).orderBy("k").collect().map(_.getLong(0)).toSeq
      == before.toSeq)
    assert(t.asOfMor(2).count() == 28) // v2 time travel still resolves
    assert(before.length == 27 && !before.contains(9L))
    // materialization after the round-trip still bounds to DV'd files
    t.commitMaterializeDv("part")
    assert(t.dvFor(t.version).isEmpty)
    assert(t.asOf(t.version).count() == 27)
    rm(root)
  }

  test("sidecar degradation: torn files and header-k skew stay safe") {
    import spark.implicits._
    val root = tmpRoot("sbloomskew")
    val t = new SnapshotLog.Table(spark, root, bloomCols = Seq("k"))
    t.commitAppend((1L to 100L).map(k => (k, "x")).toDF("k", "part")
      .coalesce(1), "part")
    val Seq(f) = t.liveFiles(t.version)
    val side = java.nio.file.Paths.get(s"$root/index/$f.k.bloom")
    val orig = java.nio.file.Files.readAllBytes(side)
    // 1) torn sidecar (truncated mid-bitmap): conservatively KEPT,
    //    never an exception, never a false negative
    java.nio.file.Files.write(side, orig.take(orig.length / 2))
    assert(t.pointLookupFiles(t.version, "k", Seq(7L)) == Seq(f))
    // 2) header-k skew: a sidecar claiming FEWER probes than the build
    //    constant still finds present keys — the lookup must honor the
    //    STORED k (probing a subset of the built positions), not the
    //    compiled-in one (probing extra positions → false negatives)
    val txt = new String(orig, "UTF-8")
    val nl = txt.indexOf('\n')
    val Array(m, _) = txt.substring(0, nl).split(" ")
    java.nio.file.Files.write(side,
      (s"$m 3\n" + txt.substring(nl + 1)).getBytes("UTF-8"))
    assert(t.pointLookupFiles(t.version, "k", Seq(7L)) == Seq(f),
      "stored-k lookup lost a present key")
    rm(root)
  }
}
