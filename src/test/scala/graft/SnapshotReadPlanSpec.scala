package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{ParquetFiles, Trace}
import graft.sources.SnapshotLog

/** Reads planned from metadata the engine already holds: snapshot
  * reads take file statuses from the manifest and schemas from cached
  * footers, so building one starts no Spark job however many files it
  * covers (`spark.read.parquet` lists in a job above 32 paths and
  * infers the schema in another). The relation must still read exactly
  * as `spark.read.option("basePath", …).parquet(files)` does, and a
  * `Tables` read must follow its file when the file is rewritten. */
class SnapshotReadPlanSpec extends SparkSpec {

  /** One append of 4000 rows over 40 partition values: 40 live files. */
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
    val (t, v) = table("int")
    val live = t.liveFiles(v)
    assert(live.size > 32, s"${live.size} live files")
    val (candidates, candidateJobs) =
      Trace.jobCount(spark)(t.readFilesWithPos(live, v))
    assert(candidateJobs == 0, s"$candidateJobs jobs building the candidate read")
    val (victims, compactJobs) = Trace.jobCount(spark)(t.readFilesMorAt(v, live))
    assert(compactJobs == 0, s"$compactJobs jobs building the compaction read")
    assert(candidates.count() == 4000 && victims.count() == 4000)
    assert(candidates.select("__f").distinct().count() == live.size)
  }

  for (partType <- Seq("int", "string"))
    test(s"readGroups over a $partType-partitioned table reads as spark.read with basePath") {
      val (t, v) = table(partType)
      val live = t.liveFiles(v)
      val ours = t.readFiles(live, mergeSchema = false, v)
      val theirs = spark.read.option("basePath", s"${t.root}/data")
        .parquet(live.map(r => s"${t.root}/data/$r"): _*)
      assert(ours.schema == theirs.schema)
      assert(sameRows(ours, theirs))
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
