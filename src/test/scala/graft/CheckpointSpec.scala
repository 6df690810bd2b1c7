package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.graft.Trace

/** The engine's one barrier, `Checkpoint.localCheckpoint`, follows the
  * context's checkpoint dir: executor-local blocks with none set,
  * durable checkpoint files under it when one is set, with identical
  * rows either way (SCALING.md "localCheckpoint policy"). One query per
  * barrier family runs in both modes.
  *
  * All suites share one SparkContext, so every test that sets a dir
  * clears it again in `finally`; a dir left set would make every later
  * suite write durable checkpoints. */
class CheckpointSpec extends SparkSpec {

  private def files(dir: Path): Long =
    Files.walk(dir).filter(Files.isRegularFile(_)).count()

  /** Runs `body` with the context's checkpoint dir set to a fresh temp
    * dir, then clears the setting and deletes the dir. */
  private def durable[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt-spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private def rows(name: String): Seq[String] =
    q(name).collect().map(_.toString).sorted.toSeq

  /** `name` returns the same rows in both modes, and the durable run
    * writes checkpoint files. */
  private def sameRowsDurable(name: String): Unit = {
    val local = rows(name)
    assert(local.nonEmpty, s"$name returned no rows")
    durable { dir =>
      assert(rows(name) === local)
      assert(files(dir) > 0, s"$name wrote no checkpoint file under $dir")
    }
    DevSession.dropPinnedBlocks(spark)
  }

  test("with no checkpoint dir the barrier is a localCheckpoint") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = localCheckpoint(spark.range(10).toDF("x"))
    assert(df.count() === 10)
    // a local checkpoint keeps its blocks as a persisted RDD
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    DevSession.dropPinnedBlocks(spark)
  }

  test("with a context checkpoint dir the barrier writes files") {
    durable { dir =>
      val df = localCheckpoint(
        spark.range(100).toDF("x").withColumn("y", col("x") * 2))
      assert(df.agg(sum("y")).head.getLong(0) === 9900)
      // the durable path: checkpoint files must actually exist
      assert(files(dir) > 0, s"no checkpoint files under $dir")
    }
  }

  test("observe() accumulators fill under reliable checkpoint() too") {
    // connectedComponents' convergence probe rides the barrier job's
    // materialization (Observation + barrier in one action); durable
    // checkpoint() is also eager, so the probe must still fill — this
    // is the behavioral contract the mode switch depends on.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L))
      .toDF("a", "b")
    val expected = graft.operators.Clusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    durable { dir =>
      val got = graft.operators.Clusters.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
      assert(got(3L) == 1L && got(11L) == 10L)
      assert(files(dir) > 0, s"no checkpoint files under $dir")
    }
  }

  test("re-pointing the context's checkpoint dir takes effect") {
    val dirA = Files.createTempDirectory("graft-ckpt-a")
    val dirB = Files.createTempDirectory("graft-ckpt-b")
    try {
      spark.sparkContext.setCheckpointDir(dirA.toString)
      assert(localCheckpoint(spark.range(10).toDF("x")).count() === 10)
      spark.sparkContext.setCheckpointDir(dirB.toString)
      assert(localCheckpoint(spark.range(10).toDF("x")).count() === 10)
      assert(files(dirA) > 0, s"first barrier never used $dirA")
      assert(files(dirB) > 0, s"re-pointed barrier never used $dirB")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      FileUtils.deleteDirectory(dirA.toFile)
      FileUtils.deleteDirectory(dirB.toFile)
    }
  }

  test("a dir set directly on the SparkContext is respected when no " +
    "graft conf is present") {
    // the barrier reads the context's dir and never sets one itself; a
    // cleared dir puts it back in local mode
    durable { dir =>
      assert(localCheckpoint(spark.range(10).toDF("x")).count() === 10)
      assert(spark.sparkContext.getCheckpointDir.exists(
        _.contains(dir.getFileName.toString)),
        s"$dir was replaced: ${spark.sparkContext.getCheckpointDir}")
      assert(files(dir) > 0, s"no checkpoint files under $dir")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("an iterative query is oracle-identical under reliable checkpoints") {
    // loop family: connected components + pagerank pin every round
    sameRowsDurable("q_pagerank")
  }

  test("bounded reuse: q_simhash_hamming, durable = local") {
    sameRowsDurable("q_simhash_hamming")
  }

  test("corpus-sized: q_media_ahash_neardup, durable = local") {
    sameRowsDurable("q_media_ahash_neardup")
  }

  test("partition pin: q_sorted_neighborhood, durable = local") {
    // RangeRank checkpoints its sampled partitioning once
    sameRowsDurable("q_sorted_neighborhood")
  }

  test("q_tpch_q11_important_stock, durable = local") {
    sameRowsDurable("q_tpch_q11_important_stock")
  }

  test("SQL MERGE INTO pins its source durably, durable = local") {
    // GraftMergeCommand evaluates the source once behind a barrier; the
    // merge needs the GraftExtensions rule, so it runs in a second
    // session over the same context
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val es = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    val wh = Files.createTempDirectory("graft_ckpt_merge_")
    try {
      es.conf.set("spark.sql.catalog.gck", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gck.warehouse", wh.toString)
      import es.implicits._
      Seq((2L, "a", 222L), (3L, "b", 30L)).toDF("k", "part", "v")
        .createOrReplaceTempView("ck_src")
      def merged(table: String): (Seq[(Long, Long)], Trace.Report) = {
        es.sql(s"CREATE TABLE gck.$table (k BIGINT, part STRING, v BIGINT) " +
          "PARTITIONED BY (part)")
        es.sql(s"INSERT INTO gck.$table VALUES (1, 'a', 10), (2, 'a', 20)")
        val (_, report) = Trace(es)(es.sql(s"MERGE INTO gck.$table t " +
          "USING ck_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
        (es.sql(s"SELECT k, v FROM gck.$table ORDER BY k").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq, report)
      }
      val (local, _) = merged("t_local")
      assert(local == Seq((1L, 10L), (2L, 222L), (3L, 30L)), local)
      durable { dir =>
        val (got, report) = merged("t_durable")
        assert(got == local)
        assert(report.checkpointJobs.exists(
          _.callSite.startsWith("localCheckpoint at GraftDml.scala")),
          report.jobs.map(_.callSite).mkString("; "))
        assert(files(dir) > 0, s"the merge wrote no checkpoint file under $dir")
      }
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
      FileUtils.deleteDirectory(wh.toFile)
    }
  }

  test("no direct localCheckpoint or checkpoint call in src/main") {
    // every barrier goes through the one entry point; a direct call
    // would ignore the checkpoint dir and mislabel its job
    val entry = Paths.get("src/main/scala/org/apache/spark/sql/graft/Checkpoint.scala")
    val direct = """\.(localCheckpoint|checkpoint)\(""".r
    val offending = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != entry)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).nonEmpty => s"$p:${i + 1}"
        }
      }.toSeq
    assert(Files.exists(entry), s"$entry is missing")
    assert(offending.isEmpty,
      "direct barrier calls; use .transform(localCheckpoint):\n" +
        offending.mkString("\n"))
  }
}
