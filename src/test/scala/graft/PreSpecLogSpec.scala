package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}
import graft.sources.{KeyRange, SnapshotLog}

/** Logs written before the log recorded its partition spec (the
  * `prespec_logs` fixture, written at commit f8db2b3; see its
  * README): they read and commit as they did there — rewrites take
  * the layout of the newest live file, reads infer partition types
  * unless the caller declares them — and their next append writes the
  * `spec` entry. */
class PreSpecLogSpec extends SparkSpec {

  import spark.implicits._

  /** A private copy of the fixture: the tests commit to it. */
  private def fixture(): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_prespec_")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(getClass.getResource("/prespec_logs").toURI),
      dst.toFile)
    dst.toString
  }

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))

  private def specs(t: SnapshotLog.Table) =
    t.entries.filter(_.action == "spec").map(e => (e.version, e.path))

  test("a Scala-API log without a spec reads as before, rewrites under " +
    "its newest layout, and its next append writes the entry") {
    val dir = fixture()
    val t = new SnapshotLog.Table(spark, s"$dir/int_part")
    assert(t.version == 2 && t.partitionSpec(2).isEmpty)
    def rows(v: Int) = t.asOf(v).orderBy("k").collect().mkString(";")
    assert(t.asOf(2).schema.toDDL == "k BIGINT,v BIGINT,p INT")
    assert(rows(2) == "[1,10,1];[2,20,2];[3,30,1];[4,40,3]")
    t.commitUpdate(KeyRange.Longs("k", 2L, 2L),
      Map("v" -> (col("v") + 1)))                                // v3
    assert(t.entries.filter(e => e.version == 3 && e.action == "add")
      .map(_.path).forall(_.startsWith("p=2/")))
    assert(rows(3) == "[1,10,1];[2,21,2];[3,30,1];[4,40,3]")
    assert(specs(t).isEmpty)
    t.commitAppend(Seq((5L, 4, 50L)).toDF("k", "p", "v"), "p")  // v4
    assert(specs(t) == Seq((4, "p|INT")))
    assert(t.partitionSpec(3).isEmpty && t.partitionSpec(4) == Some("p"))
    assert(t.asOf(4).schema.toDDL == "k BIGINT,v BIGINT,p INT")
    assert(rows(4) == "[1,10,1];[2,21,2];[3,30,1];[4,40,3];[5,50,4]")
    rm(dir)
  }

  test("a log without a spec infers partition types unless the caller " +
    "declares them") {
    val dir = fixture()
    val t = new SnapshotLog.Table(spark, s"$dir/warehouse/sql_str")
    assert(t.asOf(1).schema("part").dataType == IntegerType)
    val declared = t.asOf(1,
      partTypes = StructType(Seq(StructField("part", StringType))))
    assert(declared.schema("part").dataType == StringType)
    assert(declared.orderBy("k").select("part").collect()
      .map(_.getString(0)).toSeq == Seq("01", "1"))
    rm(dir)
  }

  test("a SQL table written before spec entries reads as before, takes " +
    "an UPDATE and an append, and keeps '01' once the append wrote " +
    "the entry") {
    val dir = fixture()
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      es.conf.set("spark.sql.catalog.gpre", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gpre.warehouse", s"$dir/warehouse")
      def rows() = es.sql("SELECT * FROM gpre.sql_str ORDER BY k")
        .collect().mkString(";")
      assert(es.table("gpre.sql_str").schema.toDDL ==
        "k BIGINT,part STRING,v BIGINT")
      assert(rows() == "[1,01,10];[2,1,20]")
      val t = new SnapshotLog.Table(es, s"$dir/warehouse/sql_str")
      es.sql("UPDATE gpre.sql_str SET v = v + 1 WHERE k >= 2 AND k <= 2")
      assert(t.version == 2 && specs(t).isEmpty)
      assert(rows() == "[1,01,10];[2,1,21]")
      es.sql("INSERT INTO gpre.sql_str VALUES (3, '001', 30)")
      assert(specs(t) == Seq((3, "part|STRING")))
      es.sql("UPDATE gpre.sql_str SET v = v + 1 WHERE k >= 1 AND k <= 1")
      assert(rows() == "[1,01,11];[2,1,21];[3,001,30]")
      assert(t.entries.filter(e => e.version == 4 && e.action == "add")
        .map(_.path).forall(_.startsWith("part=01/")))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
    rm(dir)
  }

  test("a rewrite on a log with neither a spec nor a live file names " +
    "commitAppend") {
    val root = java.nio.file.Files.createTempDirectory("graft_nospec_")
      .toString
    val t = new SnapshotLog.Table(spark, root)
    val e = intercept[IllegalStateException](
      t.commitMerge(Seq((1L, "a", 10L)).toDF("k", "part", "v"), "k"))
    assert(e.getMessage.contains("commitAppend"), e.getMessage)
    assert(t.version == 0)
    rm(root)
  }
}
