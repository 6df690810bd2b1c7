package graft

import org.apache.spark.sql.functions._
import graft.sources.{KeyRange, SnapshotLog}

/** Model-based randomized testing of the snapshot log: a seeded random
  * sequence of write operations is applied BOTH to a [[SnapshotLog
  * .Table]] and to a plain Scala `Map[Long, Long]` model, and after
  * every commit the table's merge-on-read read must equal the model —
  * plus, at the end, EVERY historical version must still equal the
  * model state recorded when it was committed (time-travel
  * immutability: later commits, compactions, materializations, and
  * restores must never change what an old version reads as).
  *
  * This is the interaction net the targeted specs can't weave: the
  * round-10 resurrection bug (rewrites dropping DV bindings they did
  * not apply) was exactly a two-op interaction (deleteMor → rewrite)
  * that no single-op spec exercised. Ops drawn: fresh-key append,
  * MOR key delete, upsert merge, tri-clause CDC apply, compaction,
  * clustered rewrite, value-range COW delete, atomic replace-where,
  * merge-on-read upsert,
  * write-audit-publish, DV materialization, restore to a random
  * earlier version, metadata-only RENAME, TYPE WIDENING of the value
  * column (committed INT until widened — every read casts up), and
  * DEFAULT columns (every introduced default must read 7 on every
  * row at every later version — rewrites materialize, clones carry,
  * omitting writers get filled), atomic whole-table OVERWRITE, the
  * pruned COW range UPDATE, the STRING-bounded typed UPDATE variant
  * (stats-less bound column → conservative all-file candidates, row
  * predicate carries the truth), and the absent-partition delete
  * no-op (an honest empty commit). */
class SnapshotModelSpec extends SparkSpec {

  private def runSequence(seed: Long, nOps: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_model_$seed").toString
    // columnar checkpoints throughout (threshold 1): the randomized
    // op soak must hold format-blind — every fold, reclaim probe and
    // time-travel sweep parses parquet checkpoints under auto-vacuum
    val t = new SnapshotLog.Table(spark, root, autoCheckpointEvery = 4,
      parquetCheckpointAt = 1)
    var model = Map.empty[Long, Long]
    var nextKey = 1L
    var vName = "v" // current LOGICAL name of the value column
    var vType = "int" // commit-side type until a widen op promotes it
    var defaults = Vector.empty[String] // DEFAULT-7 columns added so far
    // (model state, value-column logical name) AT each version
    // (index v-1), for the final time-travel sweep and restore targets
    var hist = Vector.empty[(Map[Long, Long], String)]

    def df(rows: Seq[(Long, Long)]) =
      rows.map { case (k, v) => (k, "x", v) }.toDF("k", "part", vName)
        .withColumn(vName, col(vName).cast(vType))
        .coalesce(1)
    def read(v: Int, name: String): Map[Long, Long] =
      if (t.liveFiles(v).isEmpty) Map.empty
      else t.asOfMor(v).select(col("k"), col(name).cast("long"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def existing(n: Int): Seq[Long] =
      rnd.shuffle(model.keys.toSeq).take(n)
    def record(): Unit = {
      // ops publish exactly one commit each; pad in case an op ever
      // publishes more (fail loudly instead of misaligning history)
      assert(t.version == hist.size + 1,
        s"op published ${t.version - hist.size} commits, expected 1")
      hist :+= ((model, vName))
    }

    (1 to nOps).foreach { i =>
      val op = rnd.nextInt(22)
      op match {
        case 0 | 1 | 2 => // fresh-key append
          val ks = (nextKey until nextKey + 5 + rnd.nextInt(20))
          nextKey = ks.last + 1
          val rows = ks.map(k => k -> (k * 10 + seed))
          t.commitAppend(df(rows), "part")
          model ++= rows
        case 3 | 4 => // merge-on-read key delete (possibly empty)
          val ks = existing(rnd.nextInt(6))
          t.commitDeleteKeysMor(ks.map(k => (k, "x", 0L)).toDF("k", "part", "v")
            .select("k").coalesce(1), "k")
          model --= ks
        case 5 | 6 => // upsert merge: updates + brand-new inserts
          val upd = existing(rnd.nextInt(4)).map(k => k -> (k + 777))
          val ins = (nextKey until nextKey + rnd.nextInt(3))
            .map(k => k -> (k * 10 + seed))
          nextKey = ins.lastOption.map(_._1 + 1).getOrElse(nextKey)
          t.commitMerge(df(upd ++ ins), "part", "k")
          model ++= upd ++ ins
        case 7 => // tri-clause CDC: tombstones + updates + inserts
          val dels = existing(rnd.nextInt(3))
          val upd = existing(rnd.nextInt(3))
            .filterNot(dels.contains).map(k => k -> (k + 555))
          val ins = (nextKey until nextKey + rnd.nextInt(2))
            .map(k => k -> (k * 10 + seed))
          nextKey = ins.lastOption.map(_._1 + 1).getOrElse(nextKey)
          val changes =
            dels.map(k => (k, "x", 0L, "D")) ++
              (upd ++ ins).map { case (k, v) => (k, "x", v, "U") }
          t.commitApplyChanges(
            changes.toDF("k", "part", vName, "__op")
              .withColumn(vName, col(vName).cast(vType)).coalesce(1),
            "part", "k")
          model = model -- dels ++ upd ++ ins
        case 8 => // reorganization / DV retirement
          if (rnd.nextBoolean()) t.commitCompact("part")
          else t.commitMaterializeDv("part")
        case 9 => // restore to a random earlier version
          if (hist.nonEmpty) {
            val target = 1 + rnd.nextInt(hist.size)
            t.commitRestore(target)
            model = hist(target - 1)._1
            // restore replays DATA, not the column mapping: the
            // logical name stays the current one
          } else t.commitCompact("part")
        case 10 => // value-range COW delete (zone-map-pruned path)
          val lo = rnd.nextLong(math.max(1L, nextKey * 10))
          val hi = lo + 500
          t.commitDeleteRange("part", KeyRange.Longs(vName, lo, hi))
          model = model.filterNot { case (_, v) => v >= lo && v <= hi }
        case 11 => // clustered rewrite (pure reorganization)
          t.commitCluster("part", "k", filesPerRange = 2)
        case 14 => // merge-on-read upsert (DV tombstones + adds)
          val upd = existing(rnd.nextInt(4)).map(k => k -> (k + 333))
          val ins = (nextKey until nextKey + rnd.nextInt(3))
            .map(k => k -> (k * 10 + seed))
          nextKey = ins.lastOption.map(_._1 + 1).getOrElse(nextKey)
          t.commitMergeMor(df(upd ++ ins), "part", "k")
          model ++= upd ++ ins
        case 13 => // atomic replace-where on a value range
          val lo = rnd.nextLong(math.max(1L, nextKey * 10))
          val hi = lo + 500
          val ks = (nextKey until nextKey + 1 + rnd.nextInt(3))
          nextKey = ks.last + 1
          val rows = ks.map(k => k -> (lo + k % 501)) // inside [lo, hi]
          t.commitReplaceWhere("part", KeyRange.Longs(vName, lo, hi), df(rows))
          model = model.filterNot { case (_, v) =>
            v >= lo && v <= hi } ++ rows
        case 15 => // metadata-only RENAME COLUMN of the value column
          val nn = s"v$i"
          t.renameColumn(vName, nn)
          vName = nn
        case 18 => // atomic whole-table OVERWRITE (one version)
          val ks = (nextKey until nextKey + 2 + rnd.nextInt(4))
          nextKey = ks.last + 1
          val rows = ks.map(k => k -> (k * 10 + seed))
          t.commitOverwrite(df(rows), "part")
          model = rows.toMap
        case 19 => // pruned COW range UPDATE on the key
          val lo = rnd.nextLong(math.max(1L, nextKey))
          val hi = lo + 20
          t.commitUpdate("part", KeyRange.Longs("k", lo, hi),
            Map(vName -> (col(vName) + lit(9))))
          model = model.map { case (k, v) =>
            k -> (if (k >= lo && k <= hi) v + 9 else v) }
        case 16 => // TYPE WIDENING of the value column (once)
          if (vType == "int" && model.nonEmpty) {
            t.widenColumn(vName, "bigint")
            vType = "bigint"
          } else t.commitCompact("part")
        case 17 => // DEFAULT column: must read 7 everywhere, forever
          val dn = s"d$i"
          t.addColumnDefault(dn, "bigint", "7")
          defaults :+= dn
        case 20 => // STRING-bounded typed UPDATE: the part column is
          // dir-encoded (no footer stats), so the candidate prune
          // degrades conservatively to every live file and the row
          // predicate does the filtering — the typed variant soaked
          // against DVs, widening, defaults and renames
          t.commitUpdate("part", KeyRange.Strings("part", "a", "z"),
            Map(vName -> (col(vName) + lit(4))))
          model = model.map { case (k, v) => k -> (v + 4) }
        case 21 => // absent-partition delete: zero rows, honest
          // empty commit (the version advances, the fold is unchanged)
          t.commitDeletePartition("part", s"absent$i")
        case 12 => // write-audit-publish as one committed batch
          val ks = (nextKey until nextKey + 3 + rnd.nextInt(5))
          nextKey = ks.last + 1
          val rows = ks.map(k => k -> (k * 10 + seed))
          val br = s"b$i"
          t.stageAppend(df(rows), "part", br)
          assert(t.version == hist.size, "staging must not commit")
          t.publishStaged(br)
          model ++= rows
      }
      record()
      assert(read(t.version, vName) == model,
        s"seed=$seed op#$i(kind=$op) v=${t.version}: table diverged " +
          s"(${read(t.version, vName).size} rows vs model ${model.size})")
      // every DEFAULT column introduced so far reads 7 on EVERY row:
      // pre-evolution files fill, rewrites materialize, omitting
      // appends get it at the write boundary — a NULL or non-7
      // anywhere is an era-tracking bug
      if (defaults.nonEmpty && model.nonEmpty) {
        val bad = t.asOfMor(t.version)
          .filter(defaults.map(d => col(d).isNull || col(d) =!= 7L)
            .reduce(_ || _)).count()
        assert(bad == 0,
          s"seed=$seed op#$i: $bad rows lost a DEFAULT-7 fill")
      }
    }

    // time-travel immutability: every historical version still reads
    // as the state recorded when it committed — through compactions,
    // materializations, restores, auto-checkpoints, and auto-vacuum
    hist.zipWithIndex.foreach { case ((m, nm), i) =>
      assert(read(i + 1, nm) == m,
        s"seed=$seed version ${i + 1} changed after later commits")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("random op sequences match the model (seed 7)") {
    runSequence(seed = 7, nOps = 12)
  }

  test("random op sequences match the model (seed 41)") {
    runSequence(seed = 41, nOps = 12)
  }

  test("random op sequences match the model (seed 1013)") {
    runSequence(seed = 1013, nOps = 14)
  }

  test("random op sequences match the model (seed 271828)") {
    runSequence(seed = 271828, nOps = 16)
  }

  test("random op sequences match the model (seed 314159)") {
    runSequence(seed = 314159, nOps = 16)
  }
}
