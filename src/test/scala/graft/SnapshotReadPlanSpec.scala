package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{ParquetFiles, Trace}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.{KeyRange, SnapshotLog}

/** Reads planned from metadata the engine already holds: snapshot
  * reads take file statuses from the manifest and schemas from cached
  * footers, so building one starts no Spark job however many files it
  * covers (`spark.read.parquet` lists in a job above 32 paths and
  * infers the schema in another). The relation must still read exactly
  * as `spark.read.option("basePath", …).parquet(files)` does, and a
  * `Tables` read must follow its file when the file is rewritten. */
class SnapshotReadPlanSpec extends SparkSpec {

  /** One append of 4000 rows over 40 partition values (a file per
    * partition value and write task). */
  private def table(partType: String): (SnapshotLog.Table, Int) = {
    val root = Files.createTempDirectory("graft_read_plan_").toString
    val t = new SnapshotLog.Table(spark, root)
    val v = t.commitAppend(spark.range(0, 4000).selectExpr("id AS k",
      s"CAST(id % 40 AS $partType) AS p", "id * 3 AS v"), "p")
    (t, v)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("delete-keys candidate and compaction reads over > 32 files start no job") {
    val (t, v0) = table("int")
    // MOR-deleted keys in 20 files (the DV sidecars are read by a
    // `spark.read.text`, which lists above 32 paths): the reads below
    // tag row positions and anti-join them
    val v = t.commitDeleteKeysMor(spark.range(0, 20).toDF("k"), "k")
    val live = t.liveFiles(v)
    assert(live.size > 32 && t.dvFor(v).size > 1,
      s"${live.size} live files, ${t.dvFor(v).size} with a DV")
    val (mor, morJobs) = Trace.jobCount(spark)(t.asOfMor(v))
    assert(morJobs == 0, s"$morJobs jobs building the position-tagged read")
    val (victims, compactJobs) = Trace.jobCount(spark)(t.readFilesMorAt(v, live))
    assert(compactJobs == 0, s"$compactJobs jobs building the compaction read")
    assert(mor.count() == 3980 && victims.count() == 3980)
    assert(sameRows(mor, t.asOf(v0).where("k >= 20")))
  }

  for (partType <- Seq("int", "string"))
    test(s"readGroups over a $partType-partitioned table reads as spark.read with basePath") {
      val (t, v) = table(partType)
      val live = t.liveFiles(v)
      val ours = t.asOf(v)
      // the partition column reads as written, as when its type is
      // given to spark.read (which would infer a STRING '7' as INT)
      val theirs = spark.read.schema(s"k BIGINT, v BIGINT, p $partType")
        .option("basePath", s"${t.root}/data")
        .parquet(live.map(r => s"${t.root}/data/$r"): _*)
      assert(ours.schema == theirs.schema)
      assert(sameRows(ours, theirs))
    }

  test("a partition filter on an int-partitioned table prunes at plan time") {
    val (t, v) = table("int")
    assert(t.asOf(v).schema("p").dataType == IntegerType)
    val live = t.liveFiles(v)
    t.resetScanPrune()
    assert(t.asOf(v).filter(col("p") === 7).count() == 100)
    assert(t.lastScanPrune == Some((live.count(_.startsWith("p=7/")),
      live.size)), s"${t.lastScanPrune}")
  }

  test("a data filter prunes the time-travel read by zone map") {
    val root = Files.createTempDirectory("graft_read_zone_").toString
    val t = new SnapshotLog.Table(spark, root)
    // four appends of disjoint key ranges: one file each, zone maps on k
    (0 until 4).foreach(i => t.commitAppend(spark.range(i * 100, i * 100 + 100)
      .selectExpr("id AS k", "'x' AS p").coalesce(1), "p"))
    t.resetScanPrune()
    assert(t.asOf(4).filter(col("k").between(150L, 160L)).count() == 11)
    assert(t.lastScanPrune == Some((1, 4)), s"${t.lastScanPrune}")
    // commit reads do not count as reads of the table
    t.resetScanPrune()
    t.commitDeleteRange(KeyRange.Longs("k", 150L, 160L))
    assert(t.lastScanPrune.isEmpty, s"${t.lastScanPrune}")
  }

  test("a staged read over > 32 files starts no job and reads as spark.read") {
    val root = Files.createTempDirectory("graft_read_staged_").toString
    val t = new SnapshotLog.Table(spark, root)
    t.commitAppend(spark.range(0, 10).selectExpr("id AS k", "0 AS p"), "p")
    val live = t.liveFiles(t.version).toSet
    t.stageAppend(spark.range(100, 4100).selectExpr("id AS k",
      "CAST(id % 40 AS int) AS p"), "p", "audit")
    val data = s"$root/data"
    val staged = ParquetFiles.dataFiles(spark, data).map(_.getPath.toString)
      .filterNot(p => live.exists(p.endsWith))
    assert(staged.size > 32, s"${staged.size} staged files")
    val (ours, jobs) = Trace.jobCount(spark)(t.stagedRead("audit"))
    assert(jobs == 0, s"$jobs jobs building the staged read")
    val theirs = spark.read.option("basePath", data).parquet(staged: _*)
    assert(ours.schema == theirs.schema)
    assert(sameRows(ours, theirs))
  }

  test("the merge hit scan pushes its key filter into the parquet scan") {
    val (t, _) = table("int")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Trace(spark)(t.commitMerge(spark.range(5, 8).selectExpr("id AS k",
      "CAST(id % 40 AS int) AS p", "-id AS v"), "k"))
    finally spark.listenerManager.unregister(listener)
    val scans = plans.synchronized(plans.toList).flatMap(_.split("\n"))
      .filter(_.contains("PushedFilters:"))
    assert(scans.exists(_.matches(".*PushedFilters: \\[.*In\\(k, \\[5,6,7\\]\\).*")),
      s"no scan pushed the key filter:\n${scans.mkString("\n")}")
    assert(t.asOf(t.version).where("k BETWEEN 5 AND 7")
      .selectExpr("sum(v)").head().getLong(0) == -18)
  }

  /** Write `df` as one parquet file and move it to `dest`. */
  private def put(df: DataFrame, dest: String): Unit = {
    val tmp = Files.createTempDirectory("graft_put_").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dest).getParent)
    Files.move(part.toPath, Paths.get(dest),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a directory root takes its schema from the file spark.read infers it from") {
    val dir = Files.createTempDirectory("graft_dir_root_").toString
    put(spark.range(3).selectExpr("id AS a", "id AS b"), s"$dir/part-0.parquet")
    put(spark.range(3).toDF("a"), s"$dir/part-1.parquet")
    def same(): Unit = {
      val ours = ParquetFiles.table(spark, dir).get
      val theirs = spark.read.parquet(dir)
      assert(ours.schema == theirs.schema)
    }
    same()
    assert(ParquetFiles.table(spark, dir).get.columns.toSeq == Seq("a", "b"))
    // a summary file outranks the first data file, as in inference
    put(spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS c"),
      s"$dir/_common_metadata")
    same()
    assert(ParquetFiles.table(spark, dir).get.columns.toSeq == Seq("a", "c"))
  }

  test("a Tables relation is planned again after its file is rewritten") {
    val dir = Files.createTempDirectory("graft_tables_rewrite_").toString
    def put(df: DataFrame): Unit = this.put(df, s"$dir/t.parquet")
    put(spark.range(5).toDF("a"))
    val first = Tables(spark, dir).byName("t")
    assert(first.columns.toSeq == Seq("a") && first.count() == 5)
    put(spark.range(7).selectExpr("id AS a", "id * 2 AS b"))
    val second = Tables(spark, dir).byName("t")
    assert(second.columns.toSeq == Seq("a", "b") && second.count() == 7)
    assert(second.selectExpr("sum(b)").head().getLong(0) == 42)
  }
}
