package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotLog

/** The DSv2 catalog seam ([[graft.catalog.GraftCatalog]]): snapshot
  * tables addressed through SQL must behave EXACTLY like the Scala
  * API — same results, same file pruning, same commit protocol
  * underneath. */
class CatalogSqlSpec extends SparkSpec {

  private def freshWarehouse(): String = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_sqlcat_").toString
    spark.conf.set("spark.sql.catalog.gsql",
      "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsql.warehouse", wh)
    wh
  }

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))

  test("CREATE / INSERT / SELECT / time travel round-trip") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ev (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ev VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql("INSERT INTO gsql.ev VALUES (3, 'a', 30)")

    assert(spark.sql("SELECT sum(v) FROM gsql.ev").head().getLong(0) == 60)
    // VERSION AS OF pins the first commit
    assert(spark.sql("SELECT sum(v) FROM gsql.ev VERSION AS OF 1")
      .head().getLong(0) == 30)
    // SQL result ≡ Scala-API result at the same version
    val api = new SnapshotLog.Table(spark, s"$wh/ev")
    assert(api.version == 2)
    val sqlRows = spark.sql(
      "SELECT k, part, v FROM gsql.ev VERSION AS OF 2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val apiRows = api.asOf(2).select("k", "part", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(sqlRows.toSeq == apiRows.toSeq)
    // TIMESTAMP AS OF (micros) resolves through publish timestamps
    val tsMicros = api.publishTimestamp(1) * 1000L
    assert(spark.sql(
      s"SELECT count(*) FROM gsql.ev TIMESTAMP AS OF " +
        s"timestamp_micros(${tsMicros})").head().getLong(0) == 2)
    rm(wh)
  }

  test("SQL filter prunes the same files as the Scala API (plan parity)") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.pp (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    // three commits → three files per partition layout; zone maps on k
    // (value-clustered appends, so a point predicate isolates a file)
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO gsql.pp VALUES " +
        (0 until 4).map(j => s"(${i * 100 + j}, 'p', ${i * 10 + j})")
          .mkString(", "))
    }
    val api = new SnapshotLog.Table(spark, s"$wh/pp")

    // API path: predicate k = 102 prunes to commit 2's file
    api.resetScanPrune()
    val apiRows = api.asOf(3).filter(col("k") === 102L)
      .select("v").collect().map(_.getLong(0)).toSeq
    val apiPrune = api.lastScanPrune
      .getOrElse(sys.error("API scan recorded no prune"))

    // SQL path through the SHARED catalog handle (so instrumentation
    // is readable): same predicate, same version
    val sqlHandle = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/pp")
    sqlHandle.resetScanPrune()
    val sqlRows = spark.sql("SELECT v FROM gsql.pp WHERE k = 102")
      .collect().map(_.getLong(0)).toSeq
    val sqlPrune = sqlHandle.lastScanPrune
      .getOrElse(sys.error("SQL scan recorded no prune — pushed " +
        "filters are not reaching SnapshotFileIndex"))

    assert(sqlRows == apiRows && sqlRows == Seq(12L))
    assert(sqlPrune == apiPrune,
      s"SQL pruned $sqlPrune but the API pruned $apiPrune")
    assert(sqlPrune._1 < sqlPrune._2,
      s"no files were pruned at all: $sqlPrune")
    rm(wh)
  }

  test("ALTER TABLE RENAME/DROP COLUMN route to colmap commits") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.rn (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.rn VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE gsql.rn RENAME COLUMN v TO metric")
    // new logical name serves old rows; INSERT under the new name
    spark.sql("INSERT INTO gsql.rn VALUES (2, 'a', 20)")
    val rows = spark.sql(
      "SELECT k, metric FROM gsql.rn ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L)))
    // the rename is a metadata-only colmap commit, not a rewrite
    val api = new SnapshotLog.Table(spark, s"$wh/rn")
    assert(api.columnMapping(api.version)._1 == Map("metric" -> "v"))
    // old name is gone from SQL
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT v FROM gsql.rn").collect())
    // DROP COLUMN projects it away
    spark.sql("ALTER TABLE gsql.rn DROP COLUMN metric")
    assert(spark.sql("SELECT * FROM gsql.rn").columns.toSeq ==
      Seq("k", "part"))
    rm(wh)
  }

  test("INSERT OVERWRITE is one atomic commit; DROP TABLE removes") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ow (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ow VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql("INSERT OVERWRITE gsql.ow VALUES (9, 'c', 90)")
    val api = new SnapshotLog.Table(spark, s"$wh/ow")
    // overwrite = ONE version (v2), not delete+append
    assert(api.version == 2)
    assert(spark.sql("SELECT k, v FROM gsql.ow").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9L, 90L)))
    // v1 still time-travels to the pre-overwrite state
    assert(spark.sql("SELECT count(*) FROM gsql.ow VERSION AS OF 1")
      .head().getLong(0) == 2)
    spark.sql("DROP TABLE gsql.ow")
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM gsql.ow").collect())
    rm(wh)
  }

  test("ALTER COLUMN TYPE widens; ADD COLUMN DEFAULT evolves; both " +
    "metadata-only") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ty (k INT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ty VALUES (1, 'a'), (2, 'a')")
    // widening through SQL DDL
    spark.sql("ALTER TABLE gsql.ty ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gsql.ty VALUES (9000000000, 'a')")
    assert(spark.sql("SELECT sum(k) FROM gsql.ty").head().getLong(0) ==
      9000000003L)
    // lossy narrowing refused by the commit's lattice check
    assertThrows[Exception](
      spark.sql("ALTER TABLE gsql.ty ALTER COLUMN k TYPE INT"))
    // initial-default through SQL DDL: pre-existing rows read 7
    spark.sql("ALTER TABLE gsql.ty ADD COLUMN score BIGINT DEFAULT 7")
    assert(spark.sql(
      "SELECT count(*) FROM gsql.ty WHERE score = 7").head().getLong(0)
      == 3)
    // both DDLs were metadata commits on top of the two writes
    val api = new SnapshotLog.Table(spark, s"$wh/ty")
    assert(api.version == 4)
    rm(wh)
  }

  test("SQL DELETE routes to the matching commit primitive") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.dl (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.dl VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'b', 30), (4, 'b', 40)")
    val api = new SnapshotLog.Table(spark, s"$wh/dl")
    // partition-value delete -> METADATA-ONLY (no new data files)
    val filesBefore = api.liveFiles(api.version).toSet
    spark.sql("DELETE FROM gsql.dl WHERE part = 'a'")
    assert(spark.sql("SELECT sum(v) FROM gsql.dl").head().getLong(0) == 70)
    assert(api.liveFiles(api.version).toSet.subsetOf(filesBefore),
      "partition delete must not write data files")
    // range delete on a stats column -> COW over candidates
    spark.sql("DELETE FROM gsql.dl WHERE k >= 4 AND k <= 9")
    assert(spark.sql("SELECT sum(v) FROM gsql.dl").head().getLong(0) == 30)
    // the old version still time-travels (deletes are commits)
    assert(spark.sql("SELECT count(*) FROM gsql.dl VERSION AS OF 1")
      .head().getLong(0) == 4)
    // unsupported shape fails loudly, nothing is rewritten
    assertThrows[Exception](
      spark.sql("DELETE FROM gsql.dl WHERE v % 2 = 0"))
    assert(spark.sql("SELECT count(*) FROM gsql.dl").head().getLong(0) == 1)
    // TRUNCATE = DELETE without predicate, one commit
    spark.sql("TRUNCATE TABLE gsql.dl")
    assert(spark.sql("SELECT count(*) FROM gsql.dl").head().getLong(0) == 0)
    rm(wh)
  }

  test("SQL reads apply MOR deletion vectors (no resurrection)") {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.mr (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.mr VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'a', 30)")
    // a MOR delete through the Scala API: the victim's bytes stay in
    // the data file, only a DV sidecar retires the row — SQL reading
    // the raw pruned scan would RESURRECT it
    val api = new SnapshotLog.Table(spark, s"$wh/mr")
    api.commitDeleteKeysMor(Seq(2L).toDF("k"), "k")
    assert(spark.sql("SELECT k FROM gsql.mr ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "SQL read resurrected a MOR-deleted row")
    assert(spark.sql("SELECT sum(v) FROM gsql.mr").head().getLong(0) == 40)
    // time travel below the delete still sees the row
    assert(spark.sql("SELECT count(*) FROM gsql.mr VERSION AS OF 1")
      .head().getLong(0) == 3)
    rm(wh)
  }

  test("SQL MERGE INTO routes to the MOR merge commit (extension rule)") {
    // MERGE needs the GraftExtensions post-hoc rule — build a second
    // session over the SAME SparkContext with the extensions conf
    // (the shared suite session has none), restore after
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmerge_").toString
      es.conf.set("spark.sql.catalog.gm", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gm.warehouse", wh)
      es.sql("CREATE TABLE gm.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gm.t VALUES (1, 'a', 10), (2, 'a', 20)")
      import es.implicits._
      Seq((2L, "a", 222L), (3L, "b", 30L)).toDF("k", "part", "v")
        .createOrReplaceTempView("src")

      // canonical upsert -> ONE MOR merge commit (DV tombstones +
      // adds, zero rewrites)
      es.sql("MERGE INTO gm.t USING src ON t.k = src.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      val rows = es.sql("SELECT k, v FROM gm.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 10L), (2L, 222L), (3L, 30L)),
        s"merged state wrong: $rows")
      val api = new SnapshotLog.Table(es, s"$wh/t")
      assert(api.version == 2, s"CREATE+INSERT+MERGE = 2 commits, " +
        s"got ${api.version}")
      val v2 = api.entries.filter(_.version == 2)
      assert(v2.exists(_.action == "dv") &&
        !v2.exists(_.action == "remove"),
        s"merge must be MOR (DV tombstones, no file removes): " +
          s"${v2.map(_.action).distinct}")

      // WHEN MATCHED THEN DELETE alone -> MOR key delete
      Seq(Tuple1(1L)).toDF("k").createOrReplaceTempView("dead")
      es.sql("MERGE INTO gm.t USING dead ON t.k = dead.k " +
        "WHEN MATCHED THEN DELETE")
      assert(es.sql("SELECT k FROM gm.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(2L, 3L))

      // WHEN NOT MATCHED BY SOURCE routes (round 15): target rows
      // with no source match take the NMBS clause, first-match-wins,
      // in the same single CDC commit
      es.sql("MERGE INTO gm.t USING dead ON t.k = dead.k " +
        "WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN UPDATE SET v = 0")
      val nmbs = es.sql("SELECT k, v FROM gm.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(nmbs == Seq((2L, 0L), (3L, 30L)),
        s"NMBS update wrong: $nmbs")

      // unsupported shapes fail loudly, nothing changes
      val e = intercept[Exception](
        es.sql("MERGE INTO gm.t USING src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET k = t.k + 1"))
      assert(e.getMessage.contains("reassigns the merge key"),
        s"wrong failure: ${e.getMessage.take(300)}")
      assert(es.sql("SELECT count(*) FROM gm.t").head().getLong(0) == 2)
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("conditional MERGE clauses and partial SET route to the CDC " +
    "commit (first-match-wins, candidate-pruned)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmc_").toString
      es.conf.set("spark.sql.catalog.gc", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gc.warehouse", wh)
      es.sql("CREATE TABLE gc.t (k BIGINT, part STRING, v BIGINT, " +
        "status STRING) PARTITIONED BY (part)")
      es.sql("INSERT INTO gc.t VALUES (1, 'a', 10, 'live'), " +
        "(2, 'a', 20, 'live'), (3, 'b', 30, 'live'), (4, 'b', 40, 'live')")
      import es.implicits._
      Seq((2L, "a", 200L, "U"), (3L, "b", 0L, "D"),
        (4L, "b", 999L, "N"), (5L, "c", 50L, "I"), (6L, "c", 60L, "X"))
        .toDF("k", "part", "v", "op").createOrReplaceTempView("csrc")
      // - matched op=D  -> DELETE            (k=3)
      // - matched op=U  -> partial SET with BOTH-side refs (k=2)
      // - matched, no clause fires -> row untouched (k=4)
      // - not matched op=I -> conditional INSERT (k=5)
      // - not matched, no clause fires -> dropped (k=6)
      es.sql("""MERGE INTO gc.t USING csrc ON t.k = csrc.k
        |WHEN MATCHED AND csrc.op = 'D' THEN DELETE
        |WHEN MATCHED AND csrc.op = 'U' THEN
        |  UPDATE SET v = csrc.v + t.v, status = 'updated'
        |WHEN NOT MATCHED AND csrc.op = 'I' THEN
        |  INSERT (k, part, v, status)
        |  VALUES (csrc.k, csrc.part, csrc.v, 'inserted')
        |""".stripMargin)
      val rows = es.sql(
        "SELECT k, part, v, status FROM gc.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSeq
      assert(rows == Seq(
        (1L, "a", 10L, "live"),      // untouched (not in source)
        (2L, "a", 220L, "updated"),  // partial SET: part untouched
        (4L, "b", 40L, "live"),      // matched, no clause fired
        (5L, "c", 50L, "inserted")), // conditional insert; k=6 dropped
        s"conditional merge state wrong: $rows")
      // ONE commit, candidate-pruned (the CDC apply), time travel
      val api = new SnapshotLog.Table(es, s"$wh/t")
      assert(api.version == 2,
        s"CREATE+INSERT+MERGE = 2 commits, got ${api.version}")
      assert(es.sql("SELECT count(*) FROM gc.t VERSION AS OF 1")
        .head().getLong(0) == 4)
      assert(graft.catalog.GraftSqlTable.handleFor(es, s"$wh/t")
        .lastMergeScan.isDefined,
        "conditional MERGE must read through the candidate prune")

      // duplicate source keys still refused in the conditional path
      Seq((2L, "a", 1L, "U"), (2L, "a", 2L, "U"))
        .toDF("k", "part", "v", "op").createOrReplaceTempView("cdup")
      val e = intercept[Exception](
        es.sql("MERGE INTO gc.t USING cdup ON t.k = cdup.k " +
          "WHEN MATCHED AND cdup.op = 'U' THEN UPDATE SET v = cdup.v"))
      assert(e.getMessage.contains("duplicate join keys"),
        s"wrong failure: ${e.getMessage.take(200)}")
      // moving the merge key is refused loudly
      val e2 = intercept[Exception](
        es.sql("MERGE INTO gc.t USING csrc ON t.k = csrc.k " +
          "WHEN MATCHED AND csrc.op = 'U' THEN UPDATE SET k = csrc.k + 1"))
      assert(e2.getMessage.contains("reassigns the merge key"),
        s"wrong failure: ${e2.getMessage.take(300)}")
      // conditional SET * (expanded by the analyzer) works: the
      // identity k = src.k assignment is dropped, not refused
      Seq((4L, "b", 999L, "bumped"))
        .toDF("k", "part", "v", "status")
        .createOrReplaceTempView("cstar")
      es.sql("MERGE INTO gc.t USING cstar ON t.k = cstar.k " +
        "WHEN MATCHED AND cstar.v > 100 THEN UPDATE SET *")
      assert(es.sql("SELECT v, status FROM gc.t WHERE k = 4").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((999L, "bumped")))
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("a conditional MERGE evaluates its change batch once and " +
    "refuses a NULL partition before writing") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmq_").toString
      es.conf.set("spark.sql.catalog.gq", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gq.warehouse", wh)
      es.sql("CREATE TABLE gq.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gq.t SELECT id, CAST(id % 4 AS STRING), id " +
        "FROM range(1000)")
      es.range(500, 1500).selectExpr("id AS k",
        "CAST(id % 4 AS STRING) AS part", "id * 2 AS v")
        .createOrReplaceTempView("qsrc")
      // the source pin and the commit's pin of the change batch: the
      // command no longer pins the batch a second time
      val (_, report) = org.apache.spark.sql.graft.Trace(es)(es.sql(
        "MERGE INTO gq.t USING qsrc ON t.k = qsrc.k " +
          "WHEN MATCHED AND qsrc.v > 0 THEN UPDATE SET v = qsrc.v " +
          "WHEN NOT MATCHED THEN INSERT (k, part, v) " +
          "VALUES (qsrc.k, qsrc.part, qsrc.v)"))
      assert(report.checkpointJobs.size == 2,
        s"barrier jobs: ${report.checkpointJobs.map(_.callSite)}")
      val want = (0L until 500L).sum + (500L until 1500L).map(_ * 2).sum
      val got = es.sql("SELECT count(*), sum(v) FROM gq.t").head()
      assert(got.getLong(0) == 1500 && got.getLong(1) == want, s"$got")

      // an INSERT that yields a NULL partition: refused with the table
      // and its data directory untouched
      def dataFiles(): Long = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(wh, "t"))
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      val v0 = new SnapshotLog.Table(es, s"$wh/t").version
      val files0 = dataFiles()
      es.range(5000, 5001).selectExpr("id AS k", "id AS v")
        .createOrReplaceTempView("nsrc")
      val e = intercept[IllegalArgumentException](es.sql(
        "MERGE INTO gq.t USING nsrc ON t.k = nsrc.k " +
          "WHEN MATCHED AND nsrc.v > 0 THEN UPDATE SET v = nsrc.v " +
          "WHEN NOT MATCHED THEN INSERT (k, part, v) " +
          "VALUES (nsrc.k, NULL, nsrc.v)"))
      assert(e.getMessage.contains("NULL partition column part"),
        s"wrong failure: ${e.getMessage.take(300)}")
      assert(new SnapshotLog.Table(es, s"$wh/t").version == v0)
      assert(dataFiles() == files0, "the refused MERGE wrote files")
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("a STRING partition column whose values look numeric reads as " +
    "STRING and prunes") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.np (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.np VALUES (1, '1', 10), (2, '2', 20), " +
      "(3, '01', 30)")
    assert(spark.table("gsql.np").schema("part").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(spark.sql("SELECT part FROM gsql.np ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("1", "2", "01"))
    val h = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/np")
    h.resetScanPrune()
    assert(spark.sql("SELECT k FROM gsql.np WHERE part = '1'").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(h.lastScanPrune == Some((1, 3)), s"${h.lastScanPrune}")
    rm(wh)
  }

  test("an UPDATE, a MERGE and a compaction keep a STRING partition " +
    "value that looks numeric") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlnum_").toString
      es.conf.set("spark.sql.catalog.gn", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gn.warehouse", wh)
      import es.implicits._
      Seq((1L, "01", 11L)).toDF("k", "part", "v")
        .createOrReplaceTempView("nsrc")
      // each rewrite reads its victims back and writes them again:
      // '01' must come back as '01' and land under part=01/
      Seq(
        "update" -> "UPDATE gn.t SET v = v + 1 WHERE k >= 1 AND k <= 1",
        "merge" -> ("MERGE INTO gn.t USING nsrc ON t.k = nsrc.k " +
          "WHEN MATCHED THEN UPDATE SET v = t.v + 1"),
        "compact" -> "CALL gn.system.compact(table => 't')"
      ).foreach { case (what, stmt) =>
        es.sql("DROP TABLE IF EXISTS gn.t")
        es.sql("CREATE TABLE gn.t (k BIGINT, part STRING, v BIGINT) " +
          "PARTITIONED BY (part)")
        es.sql("INSERT INTO gn.t VALUES (1, '01', 10), (2, '1', 20)")
        es.sql(stmt).collect()
        val rows = es.sql("SELECT k, part, v FROM gn.t ORDER BY k")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSeq
        val v1 = if (what == "compact") 10L else 11L
        assert(rows == Seq((1L, "01", v1), (2L, "1", 20L)),
          s"$what re-typed the partition value: $rows")
        val api = new SnapshotLog.Table(es, s"$wh/t")
        assert(api.version == 2)
        val k1File = api.asOf(2).where(col("k") === 1L)
          .select(input_file_name()).head().getString(0)
        assert(api.entries.exists(e => e.version == 2 &&
          e.action == "add" && k1File.endsWith(e.path)),
          s"$what did not rewrite k=1's file: $k1File")
        assert(k1File.contains("/part=01/"),
          s"$what wrote k=1 outside part=01/: $k1File")
      }
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("MERGE INTO a table no INSERT has written declares its " +
    "partition column with an empty append first") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlfresh_").toString
      es.conf.set("spark.sql.catalog.gf", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gf.warehouse", wh)
      import es.implicits._
      Seq((1L, "01", 10L), (2L, "b", 20L)).toDF("k", "part", "v")
        .createOrReplaceTempView("fsrc")
      Seq(
        "mor" -> ("MERGE INTO gf.t USING fsrc ON t.k = fsrc.k WHEN " +
          "MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
        "cond" -> ("MERGE INTO gf.t USING fsrc ON t.k = fsrc.k " +
          "WHEN NOT MATCHED THEN INSERT (k, part, v) " +
          "VALUES (fsrc.k, fsrc.part, fsrc.v)")
      ).foreach { case (what, stmt) =>
        es.sql("DROP TABLE IF EXISTS gf.t")
        es.sql("CREATE TABLE gf.t (k BIGINT, part STRING, v BIGINT) " +
          "PARTITIONED BY (part)")
        es.sql(stmt)
        val api = new SnapshotLog.Table(es, s"$wh/t")
        assert(api.version == 2, s"$what: v${api.version}")
        assert(api.liveFiles(1).isEmpty && api.partitionSpec(1) ==
          Some("part"), s"$what: v1 is not the empty declaring append")
        assert(es.sql("SELECT k, part, v FROM gf.t ORDER BY k").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
          Seq((1L, "01", 10L), (2L, "b", 20L)), what)
      }
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("SQL UPDATE routes to the pruned COW range update " +
    "(extension rule)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlupd_").toString
      es.conf.set("spark.sql.catalog.gu", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gu.warehouse", wh)
      es.sql("CREATE TABLE gu.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gu.t VALUES (1, 'a', 10), (2, 'a', 20), " +
        "(3, 'b', 30)")
      // expression referencing the row's own columns; only k in [2,3]
      es.sql("UPDATE gu.t SET v = v * 10 + k WHERE k >= 2 AND k <= 3")
      val rows = es.sql("SELECT k, v FROM gu.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 10L), (2L, 202L), (3L, 303L)),
        s"updated state wrong: $rows")
      // one COW commit (remove + add), time travel intact
      val api = new SnapshotLog.Table(es, s"$wh/t")
      assert(api.version == 2)
      assert(es.sql("SELECT sum(v) FROM gu.t VERSION AS OF 1")
        .head().getLong(0) == 60)
      // unsupported shapes fail loudly, nothing changes
      val e = intercept[Exception](es.sql("UPDATE gu.t SET v = 0"))
      assert(e.getMessage.contains("unbounded UPDATE"),
        s"wrong failure: ${e.getMessage.take(150)}")
      assert(api.version == 2)
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("SQL UPDATE with string and date bounds routes to the typed " +
    "pruned COW (strictness does not leak into the prune)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlupd2_").toString
      es.conf.set("spark.sql.catalog.gu2", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gu2.warehouse", wh)
      es.sql("CREATE TABLE gu2.t (k BIGINT, part STRING, name STRING, " +
        "d DATE, v BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gu2.t VALUES " +
        "(1, 'a', 'alpha', DATE'2026-01-05', 10), " +
        "(2, 'a', 'beta',  DATE'2026-02-10', 20), " +
        "(3, 'b', 'gamma', DATE'2026-03-15', 30), " +
        "(4, 'b', 'mu',    DATE'2026-04-20', 40), " +
        "(5, 'b', NULL,    NULL,             50)")
      // string bounds, strict upper: 'mu' and the NULL row untouched
      es.sql("UPDATE gu2.t SET v = v + 1 " +
        "WHERE name >= 'b' AND name < 'm'")
      def vs() = es.sql("SELECT v FROM gu2.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq
      assert(vs() == Seq(10L, 21L, 31L, 40L, 50L),
        s"string-bounded UPDATE wrong: ${vs()}")
      // date bounds (BETWEEN desugars to >= AND <=)
      es.sql("UPDATE gu2.t SET v = v + 100 WHERE d BETWEEN " +
        "DATE'2026-02-01' AND DATE'2026-03-31'")
      assert(vs() == Seq(10L, 121L, 131L, 40L, 50L),
        s"date-bounded UPDATE wrong: ${vs()}")
      // both were single pruned COW commits
      val api = new SnapshotLog.Table(es, s"$wh/t")
      assert(api.version == 3,
        s"INSERT + 2 UPDATEs = 3 commits, got ${api.version}")
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("readStream.table streams appends; non-insert changes fail " +
    "loudly naming the CDF source") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.st (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.st VALUES (1, 'a', 10), (2, 'b', 20)")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sttab_ckpt_").toString
    val q = spark.readStream.table("gsql.st")
      .writeStream.format("memory").queryName("graft_sttab")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // history replays as the initial batches
      assert(spark.table("graft_sttab").count() == 2)
      // a new commit flows incrementally
      spark.sql("INSERT INTO gsql.st VALUES (3, 'a', 30)")
      q.processAllAvailable()
      val rows = spark.table("graft_sttab")
        .select("k", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 10L), (2L, 20L), (3L, 30L))
        .map { case (k, v) => (k, if (k == 2L) "b" else "a", v) },
        s"streamed table rows wrong: $rows")
      // a DELETE is a non-insert change: the stream fails LOUDLY
      spark.sql("DELETE FROM gsql.st WHERE part = 'b'")
      val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(err.getMessage.contains("CDF source") ||
        Option(err.getCause).exists(_.getMessage.contains("CDF source")),
        s"stream must name the CDF path: ${err.getMessage.take(300)}")
    } finally {
      if (q.isActive) q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
    }
    rm(wh)
  }

  test("DELETE overflow bounds and absent partitions are no-ops, " +
    "never delete-everything") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ov (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ov VALUES (1, 'a', 10), (2, 'b', 20)")
    val api = new SnapshotLog.Table(spark, s"$wh/ov")
    val v1 = api.version
    // k > Long.MaxValue matches nothing; a wrapped lo would TRUNCATE
    spark.sql(
      s"DELETE FROM gsql.ov WHERE k > ${Long.MaxValue}L")
    assert(spark.sql("SELECT count(*) FROM gsql.ov").head().getLong(0)
      == 2, "overflowed GreaterThan bound deleted rows")
    // contradictory bounds: provably empty, no commit
    spark.sql("DELETE FROM gsql.ov WHERE k > 5 AND k < 3")
    assert(spark.sql("SELECT count(*) FROM gsql.ov").head().getLong(0) == 2)
    assert(api.version == v1, "empty-range DELETE must not commit")
    // absent partition: zero rows deleted, no error (SQL semantics)
    spark.sql("DELETE FROM gsql.ov WHERE part = 'absent'")
    assert(spark.sql("SELECT count(*) FROM gsql.ov").head().getLong(0) == 2)
    rm(wh)
  }

  test("DELETE key-set shapes route to the MOR DV commit; partition " +
    "IN to one metadata commit; planner IsNotNull tolerated") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ks (k BIGINT, part STRING, " +
      "name STRING, v BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ks VALUES " +
      "(1, 'a', 'n1', 10), (2, 'a', 'n2', 20), (3, 'b', 'n3', 30), " +
      "(4, 'b', 'n4', 40), (5, 'c', 'n5', 50)")
    val api = new SnapshotLog.Table(spark, s"$wh/ks")
    val filesAfterInsert = api.liveFiles(api.version).toSet

    // integer IN-list -> MOR DV tombstones, zero data files written
    spark.sql("DELETE FROM gsql.ks WHERE k IN (1, 3)")
    assert(spark.sql("SELECT k FROM gsql.ks ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L, 5L))
    assert(api.liveFiles(api.version).toSet == filesAfterInsert,
      "key-set DELETE must be MOR (no file adds/removes)")
    assert(api.entries.filter(_.version == api.version)
      .exists(_.action == "dv"), "key-set DELETE must write DVs")

    // string-key equality on a NON-partition column -> MOR too
    spark.sql("DELETE FROM gsql.ks WHERE name = 'n2'")
    assert(spark.sql("SELECT k FROM gsql.ks ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(4L, 5L))
    assert(api.liveFiles(api.version).toSet == filesAfterInsert)

    // partition IN-list -> ONE metadata-only commit
    val vBefore = api.version
    spark.sql("DELETE FROM gsql.ks WHERE part IN ('b', 'c')")
    assert(api.version == vBefore + 1,
      "partition IN must be one atomic commit")
    assert(spark.sql("SELECT count(*) FROM gsql.ks").head().getLong(0)
      == 0)
    assert(api.entries.filter(_.version == api.version)
      .forall(e => e.action == "remove" || e.action == "meta"),
      "partition IN delete must be metadata-only")

    // a bare IS NOT NULL alone is NOT a truncate — refused loudly
    spark.sql("INSERT INTO gsql.ks VALUES (9, 'z', null, 90)")
    assertThrows[Exception](
      spark.sql("DELETE FROM gsql.ks WHERE name IS NOT NULL"))
    assert(spark.sql("SELECT count(*) FROM gsql.ks").head().getLong(0)
      == 1)
    rm(wh)
  }

  test("MERGE refuses duplicate source keys and duplicate-matched " +
    "target rows (SQL multiple-match semantics)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmdup_").toString
      es.conf.set("spark.sql.catalog.gd", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gd.warehouse", wh)
      es.sql("CREATE TABLE gd.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gd.t VALUES (1, 'a', 10), (2, 'a', 20)")
      import es.implicits._
      // duplicate source keys: refused, nothing committed
      Seq((2L, "a", 21L), (2L, "a", 22L)).toDF("k", "part", "v")
        .createOrReplaceTempView("dupsrc")
      val e1 = intercept[Exception](
        es.sql("MERGE INTO gd.t USING dupsrc ON t.k = dupsrc.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *"))
      assert(e1.getMessage.contains("duplicate join keys"),
        s"wrong failure: ${e1.getMessage.take(200)}")
      val api = new SnapshotLog.Table(es, s"$wh/t")
      assert(api.version == 1, "refused MERGE must not commit")
      // duplicate-matched TARGET rows: the MOR upsert would collapse
      // them — refused
      es.sql("INSERT INTO gd.t VALUES (2, 'a', 200)") // k=2 now twice
      Seq((2L, "a", 999L)).toDF("k", "part", "v")
        .createOrReplaceTempView("okSrc")
      val e2 = intercept[Exception](
        es.sql("MERGE INTO gd.t USING okSrc ON t.k = okSrc.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *"))
      assert(e2.getMessage.contains("deduplicate the target first"),
        s"wrong failure: ${e2.getMessage.take(200)}")
      assert(es.sql("SELECT count(*) FROM gd.t").head().getLong(0) == 3)
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("identifier segments cannot escape the warehouse root") {
    val wh = freshWarehouse()
    // a sibling dir that a traversal would reach
    val sibling = new java.io.File(new java.io.File(wh).getParent,
      "graft_victim_" + System.nanoTime())
    assert(sibling.mkdirs())
    try {
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE gsql.`../${sibling.getName}` " +
          "(k BIGINT, part STRING) PARTITIONED BY (part)"))
      assert(e.getMessage.contains("illegal identifier segment"),
        s"wrong failure: ${e.getMessage.take(200)}")
      assert(sibling.exists(), "traversal reached outside the warehouse")
      assertThrows[Exception](
        spark.sql(s"DROP TABLE gsql.`../${sibling.getName}`"))
      assert(sibling.exists(),
        "DROP TABLE deleted outside the warehouse")
    } finally {
      sibling.delete(); rm(wh)
    }
  }

  test("nested namespaces list recursively") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE gsql.a")
    spark.sql("CREATE NAMESPACE gsql.a.b")
    spark.sql("CREATE TABLE gsql.a.b.t (k BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    assert(spark.sql("SHOW NAMESPACES IN gsql").collect()
      .map(_.getString(0)).toSet == Set("a"))
    assert(spark.sql("SHOW NAMESPACES IN gsql.a").collect()
      .map(_.getString(0)).toSet == Set("a.b"))
    // the table dir is a table, not a namespace
    assert(spark.sql("SHOW NAMESPACES IN gsql.a.b").collect().isEmpty)
    assert(spark.sql("SHOW TABLES IN gsql.a.b").collect()
      .map(_.getString(1)).toSet == Set("t"))
    rm(wh)
  }

  test("writeStream.toTable lands epochs as idempotent txn commits " +
    "(restart-safe, CDF-readable)") {
    import org.apache.spark.sql.types._
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.sw (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    val base = java.nio.file.Files.createTempDirectory("graft_swt_")
    val srcDir = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    def land(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("k", "part", "v").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("part", StringType), StructField("v", LongType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .toTable("gsql.sw")
      try q.processAllAvailable() finally q.stop()
    }
    land(Seq((1L, "a", 10L), (2L, "b", 20L)))
    runOnce() // phase 1: one epoch
    land(Seq((3L, "a", 30L), (4L, "c", 40L)))
    runOnce() // phase 2: RESTART from the checkpoint, new epoch(s)
    val rows = spark.sql("SELECT k, part, v FROM gsql.sw ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "a", 30L), (4L, "c", 40L)),
      s"streamed table state wrong: $rows")
    // every epoch is ONE txn-marked commit; replaying a committed
    // epoch is a logged no-op
    val api = new SnapshotLog.Table(spark, s"$wh/sw")
    val txns = api.committedTxns.filter(_.startsWith("toTable-"))
    assert(txns.nonEmpty, "streamed commits carry no txn markers")
    val dup = api.commitAdoptStreamed(s"$wh/sw/_stream_tmp/x",
      Seq.empty, "part", txns.head)
    assert(!dup, "replayed epoch txn was admitted — exactly-once broken")
    // the CDF source reads the streamed commits as plain inserts
    val feed = spark.read
      .format("graft.sources.SnapshotCdfSource")
      .option("path", s"$wh/sw")
      .option("partCol", "part")
      .option("schema.ddl", "k LONG, v LONG")
      .option("startingVersion", "0")
      .load()
    assert(feed.filter(col("_change") === "insert").count() == 4,
      "CDF did not serve the streamed epochs")
    // zone maps / stats ride the adopted files: a point read prunes
    api.resetScanPrune()
    assert(api.asOf(api.version).filter(col("k") === 3L)
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(30L))
    assert(api.lastScanPrune.exists(p => p._1 < p._2),
      s"streamed files carry no prunable stats: ${api.lastScanPrune}")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    rm(wh)
  }

  test("DELETE WHERE k IN (subquery) routes to the MOR key delete " +
    "(extension rule)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqldsq_").toString
      es.conf.set("spark.sql.catalog.gq", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gq.warehouse", wh)
      es.sql("CREATE TABLE gq.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gq.t VALUES (1, 'a', 10), (2, 'a', 20), " +
        "(3, 'b', 30), (4, 'b', 40)")
      import es.implicits._
      Seq((2L, 100L), (4L, 1L), (9L, 100L)).toDF("k", "score")
        .createOrReplaceTempView("dsq_src")
      val api = new SnapshotLog.Table(es, s"$wh/t")
      val filesBefore = api.liveFiles(api.version).toSet
      // k=2 (score>50) dies; k=4 (score too low) and k=9 (absent) not
      es.sql("DELETE FROM gq.t WHERE k IN " +
        "(SELECT k FROM dsq_src WHERE score > 50)")
      assert(es.sql("SELECT k FROM gq.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
      assert(api.liveFiles(api.version).toSet == filesBefore,
        "subquery DELETE rewrote data files (must be MOR DVs)")
      assert(api.entries.filter(_.version == api.version)
        .exists(_.action == "dv"))
      // the ordinary shapes still route through SupportsDelete when
      // the extension is installed (no rule shadowing)
      es.sql("DELETE FROM gq.t WHERE part = 'a'")
      assert(es.sql("SELECT k FROM gq.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(3L, 4L))
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("table_changes TVF serves the batch CDF through SQL " +
    "(bounds, MOR deletes, renames)") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqltvf_").toString
      es.conf.set("spark.sql.catalog.gtc", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gtc.warehouse", wh)
      es.sql("CREATE TABLE gtc.t (k BIGINT, part STRING, v BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gtc.t VALUES (1, 'a', 10), (2, 'a', 20)") // v1
      es.sql("INSERT INTO gtc.t VALUES (3, 'b', 30)")               // v2
      es.sql("DELETE FROM gtc.t WHERE k IN (1)")                    // v3 MOR
      val all = es.sql("SELECT _version, _change, k, v FROM " +
        "table_changes('gtc.t', 1) ORDER BY _version, k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(all == Seq(
        (1L, "insert", 1L, 10L), (1L, "insert", 2L, 20L),
        (2L, "insert", 3L, 30L), (3L, "delete", 1L, 10L)),
        s"full feed wrong: $all")
      // [start, end] bounds — INCLUSIVE start (Delta's
      // starting_version contract; the option read stays exclusive)
      val bounded = es.sql("SELECT k FROM table_changes('gtc.t', 2, 2)")
        .collect().map(_.getLong(0)).toSeq
      assert(bounded == Seq(3L), s"bounded feed wrong: $bounded")
      // rename: the feed serves the CURRENT logical name
      es.sql("ALTER TABLE gtc.t RENAME COLUMN v TO metric")
      val renamed = es.sql("SELECT metric FROM " +
        "table_changes('gtc.t', 2, 2)").collect()
        .map(_.getLong(0)).toSeq
      assert(renamed == Seq(30L), s"renamed feed wrong: $renamed")
      // malformed args fail loudly
      assertThrows[Exception](
        es.sql("SELECT * FROM table_changes('gtc.t')").collect())
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("CALL graft.system.* maintenance procedures route to the " +
    "engine primitives") {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.mt (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    (0 until 3).foreach(i => spark.sql("INSERT INTO gsql.mt VALUES " +
      s"(${i * 10 + 1}, 'a', ${i + 1}), (${i * 10 + 2}, 'b', ${i + 4})"))
    val api = new SnapshotLog.Table(spark, s"$wh/mt")

    // history: one row per commit with entry-kind counts
    val h = spark.sql("CALL gsql.system.history(table => 'mt')")
      .collect()
    assert(h.length == 3 && h.forall(_.getInt(2) > 0),
      s"history wrong: ${h.mkString("; ")}")

    // MOR delete leaves a DV; compact applies it and shrinks files
    api.commitDeleteKeysMor(Seq(12L).toDF("k"), "k") // v4
    val filesBefore = api.liveFiles(api.version).size
    val cv = spark.sql(
      "CALL gsql.system.compact(table => 'mt')").head().getInt(0)
    assert(cv == 5, s"compact version $cv")
    assert(api.liveFiles(5).size < filesBefore,
      "compaction did not shrink the live set")
    assert(spark.sql("SELECT sum(v) FROM gsql.mt").head().getLong(0)
      == (1 + 2 + 3 + 4 + 5 + 6) - 5, "compaction lost the MOR delete")

    // cluster + zorder commit reorganizations
    spark.sql("CALL gsql.system.cluster(table => 'mt', " +
      "cluster_col => 'k', files_per_range => 2)")
    spark.sql("CALL gsql.system.zorder(table => 'mt', " +
      "col_a => 'k', col_b => 'v', files_per_range => 2)")
    assert(api.version == 7)
    assert(spark.sql("SELECT sum(v) FROM gsql.mt").head().getLong(0)
      == 16, "reorganization changed results")

    // restore to the pre-delete state: metadata-only undo
    spark.sql("CALL gsql.system.restore(table => 'mt', version => 3)")
    assert(spark.sql("SELECT sum(v) FROM gsql.mt").head().getLong(0)
      == 21, "restore did not bring the deleted row back")

    // vacuum bounds history; the current version stays readable
    val deleted = spark.sql("CALL gsql.system.vacuum(table => 'mt', " +
      "retain_versions => 1)").head().getLong(0)
    assert(deleted > 0, "vacuum reclaimed nothing")
    assert(spark.sql("SELECT sum(v) FROM gsql.mt").head().getLong(0)
      == 21)
    // unknown procedure fails loudly
    assertThrows[Exception](
      spark.sql("CALL gsql.system.frobnicate(table => 'mt')"))
    rm(wh)
  }

  test("GENERATED ALWAYS AS IDENTITY through SQL: engine-assigned, " +
    "dense, never reused, explicit refused") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.idt (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, k BIGINT, part STRING) PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.idt (k, part) VALUES (100, 'a'), " +
      "(200, 'a')")
    spark.sql("INSERT INTO gsql.idt (k, part) VALUES (300, 'b')")
    assert(spark.sql("SELECT id, k FROM gsql.idt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 100L), (2L, 200L), (3L, 300L)),
      "ids must be dense 1..N across commits")
    // explicit values into GENERATED ALWAYS are refused
    val e = intercept[Exception](
      spark.sql("INSERT INTO gsql.idt VALUES (99, 400, 'a')"))
    assert(e.getMessage.contains("GENERATED ALWAYS"),
      s"wrong failure: ${e.getMessage.take(200)}")
    // deleted ids are never reused (the watermark only rises)
    spark.sql("DELETE FROM gsql.idt WHERE part = 'b'")
    spark.sql("INSERT INTO gsql.idt (k, part) VALUES (500, 'c')")
    assert(spark.sql("SELECT max(id) FROM gsql.idt").head().getLong(0)
      == 4L, "a deleted id was reused")
    // OVERWRITE and streaming writes are refused loudly
    assertThrows[Exception](
      spark.sql("INSERT OVERWRITE gsql.idt (k, part) VALUES (1, 'z')"))
    // unsupported identity shapes refused at CREATE
    assertThrows[Exception](spark.sql(
      "CREATE TABLE gsql.idbad (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 10), k BIGINT, part STRING) " +
        "PARTITIONED BY (part)"))
    assertThrows[Exception](spark.sql(
      "CREATE TABLE gsql.idbad2 (id BIGINT GENERATED BY DEFAULT AS " +
        "IDENTITY, k BIGINT, part STRING) PARTITIONED BY (part)"))
    // renaming the identity column keeps the allocator CONTINUOUS
    // (the watermark is keyed by physical name — a reset would
    // reuse ids) and dropping it is refused
    spark.sql("ALTER TABLE gsql.idt RENAME COLUMN id TO uid")
    spark.sql("INSERT INTO gsql.idt (k, part) VALUES (600, 'c')")
    assert(spark.sql("SELECT max(uid) FROM gsql.idt").head().getLong(0)
      == 5L, "rename reset the identity watermark")
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE gsql.idt DROP COLUMN uid"))
    assert(e2.getMessage.contains("identity column"),
      s"wrong failure: ${e2.getMessage.take(200)}")
    rm(wh)
  }

  test("MERGE into an identity table: explicit-id INSERT refused, " +
    "id-omitting INSERT generates past the watermark, delete works") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlidm_").toString
      es.conf.set("spark.sql.catalog.gim", "graft.catalog.GraftCatalog")
      es.conf.set("spark.sql.catalog.gim.warehouse", wh)
      es.sql("CREATE TABLE gim.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY, k BIGINT, part STRING) PARTITIONED BY (part)")
      es.sql("INSERT INTO gim.t (k, part) VALUES (10, 'a'), (20, 'a')")
      import es.implicits._
      Seq((10L, "a"), (99L, "a")).toDF("k", "part")
        .createOrReplaceTempView("imsrc")
      // explicit id in the INSERT clause: still refused (smuggling)
      val e = intercept[Exception](
        es.sql("MERGE INTO gim.t USING imsrc ON t.k = imsrc.k " +
          "WHEN MATCHED THEN UPDATE SET k = imsrc.k " +
          "WHEN NOT MATCHED THEN INSERT (id, k, part) " +
          "VALUES (999, imsrc.k, imsrc.part)"))
      assert(e.getMessage.contains("identity column"),
        s"wrong failure: ${e.getMessage.take(300)}")
      // UPDATE SET id: refused (never reassigned — round-14 ADVICE)
      val e2 = intercept[Exception](
        es.sql("MERGE INTO gim.t USING imsrc ON t.k = imsrc.k " +
          "WHEN MATCHED THEN UPDATE SET id = 7"))
      assert(e2.getMessage.contains("never reassigned"),
        s"wrong failure: ${e2.getMessage.take(300)}")
      // round 15: an id-OMITTING INSERT clause generates ids from the
      // commit-CAS watermark, atomic with the merge commit; matched
      // rows keep their existing ids
      es.sql("MERGE INTO gim.t USING imsrc ON t.k = imsrc.k " +
        "WHEN MATCHED THEN UPDATE SET part = imsrc.part " +
        "WHEN NOT MATCHED THEN INSERT (k, part) " +
        "VALUES (imsrc.k, imsrc.part)")
      val gen = es.sql("SELECT id, k FROM gim.t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gen == Seq((1L, 10L), (2L, 20L), (3L, 99L)),
        s"identity-generating MERGE INSERT wrong: $gen")
      // delete-only MERGE assigns nothing — still available
      es.sql("MERGE INTO gim.t USING imsrc ON t.k = imsrc.k " +
        "WHEN MATCHED THEN DELETE")
      assert(es.sql("SELECT k FROM gim.t").collect()
        .map(_.getLong(0)).toSeq == Seq(20L))
      rm(wh)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("ADD/DROP CONSTRAINT CHECK through SQL DDL enforce at commit " +
    "time") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.ck (k BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.ck VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE gsql.ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    // every write path re-validates: a violating INSERT is refused
    val e = intercept[Exception](
      spark.sql("INSERT INTO gsql.ck VALUES (2, 'a', -5)"))
    assert(e.getMessage.contains("v_pos"),
      s"wrong failure: ${e.getMessage.take(300)}")
    assert(spark.sql("SELECT count(*) FROM gsql.ck").head().getLong(0)
      == 1)
    // conforming writes pass; DROP CONSTRAINT lifts the gate
    spark.sql("INSERT INTO gsql.ck VALUES (3, 'a', 30)")
    spark.sql("ALTER TABLE gsql.ck DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO gsql.ck VALUES (4, 'a', -4)")
    assert(spark.sql("SELECT count(*) FROM gsql.ck").head().getLong(0)
      == 3)
    // non-CHECK constraints are refused, not recorded-and-ignored
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE gsql.ck ADD CONSTRAINT pk PRIMARY KEY (k)"))
    assert(e2.getMessage.contains("CHECK constraints only") ||
      e2.getMessage.toLowerCase.contains("primary key"),
      s"wrong failure: ${e2.getMessage.take(300)}")
    rm(wh)
  }

  test("CTAS and CREATE-time DEFAULT columns work through the catalog") {
    val wh = freshWarehouse()
    // CREATE TABLE AS SELECT: createTable + the V1 write in one
    spark.sql("CREATE TABLE gsql.ct PARTITIONED BY (part) AS " +
      "SELECT CAST(id AS BIGINT) AS k, " +
      "CAST(id % 2 AS STRING) AS part, id * 10 AS v FROM range(6)")
    assert(spark.sql("SELECT sum(v) FROM gsql.ct").head().getLong(0)
      == 150L)
    assert(spark.sql("SELECT count(DISTINCT part) FROM gsql.ct")
      .head().getLong(0) == 2)
    // CREATE OR REPLACE rides Spark's drop+create fallback (the
    // catalog is not a StagingTableCatalog, so the swap is NOT
    // atomic — documented trade; the new schema may differ freely)
    spark.sql("CREATE OR REPLACE TABLE gsql.ct PARTITIONED BY (part) " +
      "AS SELECT CAST(9 AS BIGINT) AS k, 'z' AS part, 'w' AS label")
    assert(spark.sql("SELECT k, label FROM gsql.ct").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((9L, "w")))
    // CREATE-time DEFAULT: the analyzer fills omitted columns, so
    // every batch carries the value (distinct from the ADD COLUMN
    // DEFAULT era machinery)
    spark.sql("CREATE TABLE gsql.cd (k BIGINT, part STRING, " +
      "v BIGINT DEFAULT 7) PARTITIONED BY (part)")
    spark.sql("INSERT INTO gsql.cd (k, part) VALUES (1, 'a')")
    spark.sql("INSERT INTO gsql.cd VALUES (2, 'a', 20)")
    spark.sql("INSERT INTO gsql.cd (k, part) VALUES (3, 'b')") // post-commit: metadata re-attach
    assert(spark.sql("SELECT k, v FROM gsql.cd ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7L), (2L, 20L), (3L, 7L)),
      "CREATE-time DEFAULT fill wrong")
    rm(wh)
  }

  test("SHOW TABLES and table rename through the catalog") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE gsql.t1 (k BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    assert(spark.sql("SHOW TABLES IN gsql").collect()
      .map(_.getString(1)).contains("t1"))
    spark.sql("ALTER TABLE gsql.t1 RENAME TO t2")
    assert(spark.sql("SHOW TABLES IN gsql").collect()
      .map(_.getString(1)).toSet == Set("t2"))
    rm(wh)
  }
}
