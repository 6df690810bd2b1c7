package graft

import org.apache.spark.sql.functions._
import graft.sources.{DeletionVectors, SnapshotLog}

/** Deletion vectors written as text sidecars, before DVs were bitmaps
  * (the `textdv_logs` fixture, written at commit 8e9dd76; see its
  * README): they read as they did there through `asOfMor`, SQL and the
  * change feed, a MOR delete supersedes one with a bitmap holding the
  * union of both, rewrites apply them, and vacuum reclaims sidecars of
  * both kinds. */
class TextDvLogSpec extends SparkSpec {

  import spark.implicits._

  /** A private copy of the fixture's table root: the tests commit to it. */
  private def fixture(): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_textdv_")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(getClass.getResource("/textdv_logs").toURI),
      dst.toFile)
    dst.toString
  }

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).toSeq.sorted

  /** The `.dv` sidecar files under the table's `dv/` tree, as
    * `part=val/name`. */
  private def sidecars(root: String): Set[String] = {
    val d = new java.io.File(s"$root/dv")
    if (!d.exists()) Set.empty
    else d.listFiles().toSeq.flatMap(p => Option(p.listFiles()).toSeq.flatten)
      .map(f => s"${f.getParentFile.getName}/${f.getName}")
      .filter(_.endsWith(".dv")).toSet
  }

  private val rel0 =
    "part=0/v1-part-00000-a044f0bf-b6ba-48e4-a779-0ce58fd2981d.c000.snappy.parquet"

  test("a text-DV table reads as before through asOfMor, SQL and the change feed") {
    val dir = fixture()
    val root = s"$dir/warehouse/tdv"
    val t = new SnapshotLog.Table(spark, root)
    assert(t.version == 3 && t.dvFor(3).size == 3 &&
      t.dvFor(3).values.forall(_.isText))
    assert(keys(t.asOfMor(3)) ==
      (1L to 60L).filterNot(Set(3L, 4L, 5L, 6L, 10L, 11L)))
    assert(keys(t.asOfMor(2)) == (1L to 60L).filterNot(Set(3L, 4L, 5L, 10L)))
    spark.conf.set("spark.sql.catalog.gtdv", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtdv.warehouse", s"$dir/warehouse")
    assert(spark.sql("SELECT part, count(*), sum(k) FROM gtdv.tdv " +
      "GROUP BY part ORDER BY part").collect().mkString(";") ==
      "[0,18,621];[1,18,576];[2,18,594]")
    val feed = spark.read.format("graft.sources.SnapshotCdfSource")
      .option("path", root).option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .option("startingVersion", "0").load()
      .orderBy("_version", "_change", "k").collect()
    assert(feed.count(_.getString(4) == "insert") == 60)
    assert(feed.filter(_.getString(4) == "delete").mkString(";") ==
      "[3,30,0,2,delete];[4,40,1,2,delete];[5,50,2,2,delete];" +
        "[10,100,1,2,delete];[6,60,0,3,delete];[11,110,2,3,delete]")
    rm(dir)
  }

  test("a MOR delete supersedes a text DV with a bitmap of their union") {
    val dir = fixture()
    val root = s"$dir/warehouse/tdv"
    val t = new SnapshotLog.Table(spark, root)
    // k = 3, 6 are positions 0 and 1 of part=0's file; k = 9 is 2
    val v = t.commitDeleteKeysMor(Seq(9L).toDF("k"), "k")
    val dv = t.dvFor(v)(rel0)
    assert(!dv.isText && !dv.onDisk && dv.card == 3, dv.toString)
    assert(DeletionVectors.load(dv.loc(root, rel0),
      spark.sparkContext.hadoopConfiguration).toArray.toSeq == Seq(0, 1, 2))
    assert(t.dvFor(v).values.count(_.isText) == 2)
    assert(keys(t.asOfMor(v)) ==
      (1L to 60L).filterNot(Set(3L, 4L, 5L, 6L, 9L, 10L, 11L)))
    // the feed shows only the newly deleted row
    val feed = spark.read.format("graft.sources.SnapshotCdfSource")
      .option("path", root).option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .option("startingVersion", "3").load().collect()
    assert(feed.map(r => (r.getLong(0), r.getString(4))).toSeq ==
      Seq((9L, "delete")))
    rm(dir)
  }

  test("materialization and compaction apply text and bitmap DVs") {
    for (rewrite <- Seq("materialize", "compact")) {
      val dir = fixture()
      val t = new SnapshotLog.Table(spark, s"$dir/warehouse/tdv")
      t.commitDeleteKeysMor(Seq(9L).toDF("k"), "k") // v4: part=0 bitmap
      val want = keys(t.asOfMor(4))
      val v =
        if (rewrite == "materialize") t.commitMaterializeDv()
        else t.commitCompact()
      assert(t.dvFor(v).isEmpty, rewrite)
      assert(keys(t.asOf(v)) == want, rewrite)
      rm(dir)
    }
  }

  test("vacuum reclaims text and bitmap sidecars") {
    val dir = fixture()
    val root = s"$dir/warehouse/tdv"
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend((1000L until 4000L).map(k => (k, "9", k * 10))
      .toDF("k", "part", "v").coalesce(1), "part")           // v4
    // 1500 scattered positions: above the inline limit, a bitmap sidecar
    val v5 = t.commitDeleteKeysMor(
      (1001L until 4000L by 2L).toDF("k"), "k")             // v5
    val Seq((rel9, dv9)) = t.dvFor(v5).toSeq.filterNot(_._2.isText)
    assert(rel9.startsWith("part=9/") && dv9.onDisk && dv9.card == 1500)
    val before = sidecars(root)
    assert(before.size == 6 && before.contains(s"$rel9.${dv9.id}.dv"),
      before.mkString(", "))
    // the horizon passes v3: the two text sidecars v3 superseded go
    t.vacuum(retainVersions = 0)
    val file = rel0.split('/')(1)
    assert(sidecars(root) == before --
      Seq("part=0", "part=2").map(p => s"$p/$file.2-ed14a6c2.dv"))
    assert(t.asOfMor(v5).count() == 54 + 1500)
    // compaction removes every DV'd file; vacuum drops their sidecars
    val v = t.commitCompact()
    t.vacuum(retainVersions = 0)
    assert(sidecars(root).isEmpty, sidecars(root).mkString(", "))
    assert(t.asOf(v).count() == 54 + 1500)
    assert(t.asOf(v).filter(col("k").isin(3L, 1001L, 3999L)).count() == 0)
    rm(dir)
  }
}
