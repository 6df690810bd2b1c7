package graft

import java.nio.file.Files
import graft.pipeline.{CloneConfig, ClonePipeline, ConnectorOptions}
import org.apache.spark.sql.graft.Trace

/** Reference-semantics battery (SURVEY.md §5.2(4)): clone with prefix,
  * skip-if-exists idempotency, backup gating, post-write verification,
  * failure accounting, config validation, connector option builders. */
class CloneSpec extends SparkSpec {

  private def freshCfg(overwrite: Boolean = false, backup: Boolean = false) = {
    val target = Files.createTempDirectory("graft_clone_spec_").toString
    CloneConfig(
      sourceDir = sf,
      targetDir = target,
      tables = Seq("region.parquet", "nation.parquet"),
      prefix = "preprod_",
      backupBeforeClone = backup,
      backupDir = s"$target/_backups",
      overwrite = overwrite)
  }

  test("clone copies content under the prefixed namespace and verifies") {
    val cfg = freshCfg()
    val results = ClonePipeline(spark, cfg).run()
    assert(results.forall(_.status == "cloned"))
    val cloned = spark.read.parquet(s"${cfg.targetDir}/preprod_region.parquet")
    val src = spark.read.parquet(s"$sf/region.parquet")
    assert(cloned.schema == src.schema)
    assert(cloned.count() == src.count())
    // content identity as multiset (clone is identity on content)
    assert(cloned.exceptAll(src).isEmpty && src.exceptAll(cloned).isEmpty)
  }

  test("a parquet clone starts one Spark job per table: the copy") {
    val tables = Seq("region.parquet", "nation.parquet", "supplier.parquet")
    val cfg = freshCfg().copy(tables = tables)
    val (results, jobs) = Trace.jobCount(spark)(ClonePipeline(spark, cfg).run())
    assert(results.forall(_.status == "cloned"), results.mkString("; "))
    assert(jobs == tables.size, s"$jobs jobs for ${tables.size} tables")
  }

  test("verification fails a target with an extra part file or a retyped column") {
    import org.apache.spark.sql.functions.col
    val cfg = freshCfg().copy(tables = Seq("region.parquet"))
    val pipe = ClonePipeline(spark, cfg)
    assert(pipe.run().forall(_.status == "cloned"))
    val src = spark.read.parquet(s"$sf/region.parquet")
    val n = src.count()
    val tgt = new java.io.File(s"${cfg.targetDir}/preprod_region.parquet")
    assert(pipe.verify("region.parquet", src.schema, n).status == "cloned")

    val part = tgt.listFiles.filter(_.getName.startsWith("part-")).head
    val extra = new java.io.File(tgt, "part-99999-extra.parquet")
    Files.copy(part.toPath, extra.toPath)
    val withExtra = pipe.verify("region.parquet", src.schema, n)
    assert(withExtra.status == "failed" && withExtra.rows == 2 * n &&
      withExtra.schemaMatches, withExtra.toString)
    assert(extra.delete())

    src.withColumn("r_regionkey", col("r_regionkey").cast("string"))
      .write.mode("overwrite").parquet(tgt.getPath)
    val retyped = pipe.verify("region.parquet", src.schema, n)
    assert(retyped.status == "failed" && retyped.rows == n &&
      !retyped.schemaMatches, retyped.toString)
  }

  test("an empty source table clones and passes verification") {
    val srcDir = Files.createTempDirectory("graft_clone_empty_src_").toString
    spark.read.parquet(s"$sf/region.parquet").limit(0)
      .write.parquet(s"$srcDir/empty.parquet")
    val cfg = freshCfg().copy(sourceDir = srcDir, tables = Seq("empty.parquet"))
    val results = ClonePipeline(spark, cfg).run()
    assert(results.map(r => (r.status, r.rows, r.schemaMatches)) ==
      Seq(("cloned", 0L, true)), results.mkString("; "))
    assert(spark.read.parquet(s"${cfg.targetDir}/preprod_empty.parquet")
      .schema == spark.read.parquet(s"$srcDir/empty.parquet").schema)
  }

  test("re-run is an idempotent skip (clone_databases.sh:227-231)") {
    val cfg = freshCfg()
    val p = ClonePipeline(spark, cfg)
    assert(p.run().forall(_.status == "cloned"))
    val second = p.run()
    assert(second.forall(_.status == "skipped_exists"))
  }

  test("overwrite mode with backup snapshots the old target first") {
    val cfg = freshCfg(overwrite = true, backup = true)
    val p = ClonePipeline(spark, cfg)
    p.run()
    val second = p.run()
    assert(second.forall(r => r.status == "cloned" && r.backedUp))
    val backups = new java.io.File(cfg.backupDir).list()
    assert(backups != null && backups.exists(_.startsWith("preprod_region")))
  }

  test("missing source table is reported, not thrown (fail-fast accounting)") {
    val cfg = freshCfg().copy(tables = Seq("region.parquet", "nope.parquet"))
    val results = ClonePipeline(spark, cfg).run()
    assert(results.count(_.status == "cloned") == 1)
    val failed = results.filter(_.status == "failed")
    assert(failed.length == 1 && failed.head.error.contains("source missing"))
    val report = ClonePipeline(spark, cfg.copy(
      targetDir = Files.createTempDirectory("graft_clone_spec_").toString))
      .report()
    assert(report.filter("run_success = false").count() > 0)
  }

  test("connection probe works and fails cleanly on a bad source") {
    assert(ClonePipeline(spark, freshCfg()).testConnection())
    val bad = freshCfg().copy(sourceDir = "/nonexistent")
    assert(!ClonePipeline(spark, bad).testConnection())
  }

  test("config parsing: validation, defaults, secret masking") {
    val ok = CloneConfig.parse(Seq(
      "# comment", "",
      "SOURCE_DIR=/src", "TARGET_DIR=/tgt",
      "TABLES_TO_CLONE=a, b ,c", "PASSWORD=hunter2"))
    assert(ok.isRight)
    val cfg = ok.toOption.get
    assert(cfg.tables == Seq("a", "b", "c"))
    assert(cfg.prefix == "preprod_")                 // default (README.md:107)
    assert(!cfg.toString.contains("hunter2"))        // masked
    val missing = CloneConfig.parse(Seq("SOURCE_DIR=/src"))
    assert(missing.isLeft &&
      missing.swap.toOption.get.contains("TARGET_DIR"))
  }

  test("stale advisory lock past TTL is broken and the run proceeds") {
    val cfg = freshCfg().copy(lockTtlMs = 0L) // every existing lock is stale
    val p = ClonePipeline(spark, cfg)
    assert(p.acquireLock(), "take the lock")
    // do NOT release: simulate a crashed writer; TTL=0 → breakable now
    val results = ClonePipeline(spark, cfg).run()
    assert(results.forall(_.status == "cloned"),
      s"stale lock must be broken, got $results")
  }

  test("incremental clone appends only rows past the watermark") {
    import org.apache.spark.sql.functions._
    val cfg = freshCfg().copy(tables = Seq("orders.parquet"))
    val p = ClonePipeline(spark, cfg)
    assert(p.run().forall(_.status == "cloned"))
    val cutoff = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") > lit(cutoff)).count()
    val appended = p.incrementalClone("orders.parquet", "o_orderdate", cutoff)
    assert(appended == expected && expected > 0)
    val total = spark.read.parquet(s"${cfg.targetDir}/preprod_orders.parquet").count()
    assert(total == spark.read.parquet(s"$sf/orders.parquet").count() + expected)
  }

  test("advisory lock: concurrent run aborts, lock released after run") {
    val cfg = freshCfg()
    val p = ClonePipeline(spark, cfg)
    assert(p.acquireLock(), "first writer takes the lock")
    try {
      val blocked = ClonePipeline(spark, cfg).run()
      assert(blocked.forall(r =>
        r.status == "failed" && r.error.contains("locked")))
    } finally p.releaseLock()
    // after release, a run succeeds and leaves no lock behind
    assert(p.run().forall(_.status == "cloned"))
    assert(p.acquireLock()); p.releaseLock()
  }

  test("ORC round-trip preserves content (secondary columnar format)") {
    val tmp = Files.createTempDirectory("graft_orc_").toString
    val src = spark.read.parquet(s"$sf/nation.parquet")
    src.write.mode("overwrite").orc(tmp)
    val back = spark.read.orc(tmp)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("credential provisioning: charset, length, two users per clone, masked summary") {
    import graft.pipeline.Credentials
    val pw = Credentials.generatePassword()
    assert(pw.length == 16 && pw.forall(_.isLetterOrDigit))
    val fixed = new java.security.SecureRandom(Array[Byte](42))
    val results = Seq(
      graft.pipeline.CloneResult("region.parquet", "/t/preprod_region.parquet",
        "cloned", 5L, schemaMatches = true, backedUp = false, ""),
      graft.pipeline.CloneResult("nope.parquet", "/t/preprod_nope.parquet",
        "failed", 0L, schemaMatches = false, backedUp = false, "source missing"))
    val creds = Credentials.provision(results, fixed)
    assert(creds.length == 1, "failed clones get no credentials")
    assert(creds.head.ownerUser == "region_owner" && creds.head.appUser == "region_app")
    assert(!creds.head.toString.contains(creds.head.ownerPassword), "masked")
    val out = Files.createTempDirectory("graft_creds_").toString
    Credentials.writeSummary(spark, creds, out)
    val back = spark.read.json(out)
    assert(back.count() == 1 &&
      back.columns.toSet.contains("appPassword"))
  }

  test("property: prefix rewrite is injective and strips back") {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "a", "a_b", "preprod_x")
    val rewritten = names.map(n => s"preprod_$n")
    assert(rewritten.distinct.size == names.size)
    assert(rewritten.map(_.stripPrefix("preprod_")) == names)
  }

  test("connector option builders: jdbc partitioned read + mongo uri encoding") {
    val jdbc = ConnectorOptions.jdbcRead("db1", 5432, "prod", "lineitem",
      "app", "pw", partitionColumn = Some("l_orderkey"),
      numPartitions = 16, lowerBound = 0, upperBound = 6000000)
    assert(jdbc("url") == "jdbc:postgresql://db1:5432/prod")
    assert(jdbc("numPartitions") == "16" && jdbc("partitionColumn") == "l_orderkey")
    val uri = ConnectorOptions.mongoUri("m1", 27017, "user@x", "p w:1")
    assert(uri == "mongodb://user%40x:p%20w%3A1@m1:27017/?authSource=admin")
  }

  test("clone from a DSv2 connector source into parquet targets") {
    val target = Files.createTempDirectory("graft_clone_dsv2_").toString
    val cfg = CloneConfig(
      sourceDir = "", targetDir = target,
      tables = Seq("synth_events"),
      prefix = "preprod_",
      sourceFormat = "graft.sources.SyntheticSource",
      sourceOptions = Map("numRows" -> "5000", "numPartitions" -> "4"))
    val pipe = ClonePipeline(spark, cfg)
    assert(pipe.testConnection())
    assert(pipe.validateSource("synth_events"))
    val results = pipe.run()
    assert(results.forall(_.status == "cloned"), results.mkString("; "))
    val cloned = spark.read.parquet(s"$target/preprod_synth_events")
    assert(cloned.count() == 5000)
    assert(cloned.columns.toSeq == Seq("id", "grp", "val"))
  }

  test("document-store clone: nsFrom/nsTo over the docstore connector " +
      "(clone_databases.sh:784-825)") {
    import org.apache.spark.sql.functions._
    import graft.sources.DocStoreSource
    // seed a 2-collection store: one JSON doc per line, _id unique
    val store = Files.createTempDirectory("graft_docstore_spec_").toString
    val docs = Tables(spark, sf).documents.limit(200)
      .select(to_json(struct(
        concat(lit("D"), col("doc_id")).as("_id"),
        col("lang").as("lang"))).as("value"))
    DocStoreSource.seedCollection(docs, store, "corpus_main")
    DocStoreSource.seedCollection(docs.limit(50), store, "corpus_small")

    // direct connector read: options-addressed, no load path
    val direct = spark.read.format(DocStoreSource.FORMAT)
      .option("path", store).option("collection", "corpus_main").load()
    assert(direct.count() == 200)
    assert(direct.columns.toSeq == Seq("_id", "doc"))
    assert(direct.select("_id").distinct().count() == 200) // ids extracted
    // column pruning reaches the connector: the scan leaf emits ONLY
    // the projected column (the reader skips the _id regex entirely)
    val scanOut = direct.select("doc").queryExecution.executedPlan
      .collectLeaves().head.output.map(_.name)
    assert(scanOut == Seq("doc"), s"scan not pruned: $scanOut")

    // missing collection: read probe fails → validateSource false
    val cfgBad = CloneConfig(
      sourceDir = store, targetDir = store + "_tgt0",
      tables = Seq("no_such_collection"),
      sourceFormat = DocStoreSource.FORMAT,
      sourceOptions = Map("path" -> store), tableOptionKey = "collection")
    assert(!ClonePipeline(spark, cfgBad).validateSource("no_such_collection"))

    // the clone run: store → prefixed parquet namespaces, verified
    val target = Files.createTempDirectory("graft_docstore_tgt_").toString
    val cfg = cfgBad.copy(
      tables = Seq("corpus_main", "corpus_small"), targetDir = target,
      prefix = "preprod_")
    val pipe = ClonePipeline(spark, cfg)
    assert(pipe.testConnection())
    val results = pipe.run()
    assert(results.forall(r => r.status == "cloned" && r.schemaMatches),
      results.mkString("; "))
    assert(results.map(r => r.table -> r.rows).toMap ==
      Map("corpus_main" -> 200L, "corpus_small" -> 50L))
    // every document survived the namespace rewrite, by id
    val back = spark.read.parquet(s"$target/preprod_corpus_main")
    assert(back.select("_id").distinct().count() == 200)
    assert(back.filter(get_json_object(col("doc"), "$.lang").isNull)
      .count() == 0)
    // idempotency carries over the connector source too
    val again = pipe.run()
    assert(again.forall(_.status == "skipped_exists"), again.mkString("; "))
  }

  test("CloneMain: config file → run → exit code (clone_databases.sh:1094-1118)") {
    val target = Files.createTempDirectory("graft_clone_main_").toString
    val conf = Files.createTempFile("graft_clone_main_", ".conf")
    Files.writeString(conf,
      s"""# test clone config
         |SOURCE_DIR=$sf
         |TARGET_DIR=$target
         |TABLES_TO_CLONE=region.parquet, nation.parquet
         |DB_PREFIX=preprod_
         |""".stripMargin)
    // happy path: all tables clone → 0, content lands under the prefix
    assert(CloneMain.runCli(spark, Array(conf.toString), quiet = true) == 0)
    assert(spark.read.parquet(s"$target/preprod_region.parquet").count() ==
      spark.read.parquet(s"$sf/region.parquet").count())
    // idempotent re-run: skip-if-exists counts as success → 0
    assert(CloneMain.runCli(spark, Array(conf.toString), quiet = true) == 0)
    // partial failure → 1 (reference: "Some databases failed to clone")
    val confBad = Files.createTempFile("graft_clone_main_", ".conf")
    Files.writeString(confBad,
      s"""SOURCE_DIR=$sf
         |TARGET_DIR=$target
         |TABLES_TO_CLONE=region.parquet, nope.parquet
         |OVERWRITE=true
         |""".stripMargin)
    assert(CloneMain.runCli(spark, Array(confBad.toString), quiet = true) == 1)
    // config guards: missing file and missing required keys → 1
    assert(CloneMain.runCli(spark, Array("/nonexistent.conf"), quiet = true) == 1)
    val confMissing = Files.createTempFile("graft_clone_main_", ".conf")
    Files.writeString(confMissing, s"SOURCE_DIR=$sf\n")
    assert(CloneMain.runCli(spark, Array(confMissing.toString), quiet = true) == 1)
    assert(CloneMain.runCli(spark, Array.empty[String], quiet = true) == 1)
  }

  test("ACL manifest: ordered 9-step GRANT/REVOKE SQL, no secrets embedded") {
    import graft.pipeline.{AclManifest, CredentialRecord}
    val rec = CredentialRecord("preprod_region", "region_owner", "sEcReT1",
      "region_app", "sEcReT2")
    val stmts = AclManifest.statements(rec)
    // step coverage: all nine provisioning steps of the reference flow
    assert(stmts.map(_.step).distinct.sorted == (1 to 9))
    // ordinals are the execution order, dense from 0
    assert(stmts.map(_.ordinal) == stmts.indices)
    // the load-bearing statements exist
    val sql = stmts.map(_.sql)
    assert(sql.exists(_.startsWith("ALTER SCHEMA \"public\" RENAME TO region_owner")))
    assert(sql.count(_.startsWith("CREATE USER")) == 2)
    assert(sql.exists(_.contains("CREATE ROLE r_rw_preprod_region")))
    assert(sql.exists(_.contains("CREATE ROLE r_rc_preprod_region")))
    assert(sql.exists(_.contains(
      "GRANT SELECT, INSERT, UPDATE, DELETE ON ALL TABLES IN SCHEMA region_owner TO r_rw_preprod_region")))
    assert(sql.exists(_.contains("ALTER DEFAULT PRIVILEGES FOR ROLE region_owner")))
    assert(sql.exists(_.contains("GRANT r_rw_preprod_region TO region_app")))
    assert(sql.exists(_.contains("OWNER TO region_owner")))
    // secrets NEVER embedded: placeholders only
    assert(!sql.exists(x => x.contains("sEcReT1") || x.contains("sEcReT2")))
    assert(sql.exists(_.contains("${OWNER_PASSWORD}")) &&
      sql.exists(_.contains("${APP_PASSWORD}")))
    // manifest round-trips as data
    val out = Files.createTempDirectory("graft_acl_").toString
    val df = AclManifest.write(spark, Seq(rec), out)
    assert(df.count() == stmts.size)
    assert(spark.read.json(out).count() == stmts.size)
  }

  test("mysql surface: conf template parses onto the generic JDBC path") {
    import graft.pipeline.{CloneConfig, ConnectorOptions}
    val parsed = CloneConfig.parseMysql(
      CloneConfig.mysqlTemplate.linesIterator.toSeq)
    assert(parsed.isRight, parsed)
    val c = parsed.toOption.get
    assert(c.sourceFormat == "jdbc" && !c.pathBasedSource)
    assert(c.sourceOptions("url") == "jdbc:mysql://localhost:3306/")
    assert(c.sourceOptions("user") == "root")
    assert(c.tableOptionKey == "dbtable")
    assert(c.tables == Seq("myapp_db", "analytics_db"))
    assert(c.prefix == "preprod_")
    // secrets masked in the config's own rendering
    assert(!c.toString.contains("your_password"))
    // the dedicated builders: same generic options, mysql scheme
    val r = ConnectorOptions.mysqlRead("h", 3306, "db", "t", "u", "p",
      partitionColumn = Some("id"), numPartitions = 4,
      lowerBound = 0, upperBound = 100)
    assert(r("url") == "jdbc:mysql://h:3306/db" && r("dbtable") == "t" &&
      r("numPartitions") == "4" && r("fetchsize") == "10000")
    val w = ConnectorOptions.mysqlWrite("h", 3306, "db", "t", "u", "p",
      overwrite = true)
    assert(w("url") == "jdbc:mysql://h:3306/db" && w("truncate") == "true")
  }

  test("namespace clone: all-or-nothing marker flip, unwind, torn reclaim") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.SnapshotLog
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    def mk(rows: Seq[(Long, String, Long)]): SnapshotLog.Table = {
      val t = new SnapshotLog.Table(spark, tmp("graft_nsclone_src_"))
      t.commitAppend(rows.toDF("k", "part", "v").coalesce(1), "part")
      t
    }
    val a = mk(Seq((1L, "x", 10L), (2L, "y", 20L)))
    val b = mk(Seq((9L, "x", 90L)))

    // SUCCESS: both members visible under one marker; contents exact
    val ns = tmp("graft_nsclone_ns_")
    val cloned = SnapshotLog.cloneNamespace(spark, ns,
      Seq(("a", a, a.version), ("b", b, b.version)))
    assert(SnapshotLog.namespaceCloneMembers(spark, ns)
      .map(m => (m.name, m.srcVersion)) == Seq(("a", 1), ("b", 1)))
    assert(cloned.head.asOf(1).count() == 2 &&
      cloned(1).asOf(1).count() == 1)

    // double-commit refused
    intercept[IllegalArgumentException](
      SnapshotLog.cloneNamespace(spark, ns, Seq(("a", a, 1))))

    // FAILURE UNWINDS: an empty source cannot clone; the good member
    // published FIRST must be unwound (all-or-nothing)
    val empty = new SnapshotLog.Table(spark, tmp("graft_nsclone_e_"))
    val bad = tmp("graft_nsclone_bad_")
    intercept[Exception](SnapshotLog.cloneNamespace(spark, bad,
      Seq(("good", a, 1), ("dead", empty, 1))))
    assert(SnapshotLog.namespaceCloneMembers(spark, bad).isEmpty)
    assert(!new java.io.File(bad, "good").exists(),
      "failed namespace left a member behind")
    assert(!new java.io.File(bad, "_clone_pending").exists() &&
      !new java.io.File(bad, "_clone_ok").exists())
    // sources untouched by the unwind (links, not moves)
    assert(a.asOf(1).count() == 2)

    // TORN ATTEMPT RECLAIM: a crash between member clones and the
    // marker flip leaves _clone_pending + member dirs; invisible to
    // readers, and the next cloneNamespace reclaims then succeeds
    val torn = tmp("graft_nsclone_torn_")
    val fs = new org.apache.hadoop.fs.Path(torn)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = new SnapshotLog.Table(spark, s"$torn/a")
    t0.commitCloneFrom(a, 1) // the member landed ...
    val out = fs.create(
      new org.apache.hadoop.fs.Path(torn, "_clone_pending"), false)
    out.write((s"a,${graft.sources.SnapshotLog.hexStr(a.root)},1" +
      "\n").getBytes("UTF-8")); out.close() // the flip never ran
    assert(SnapshotLog.namespaceCloneMembers(spark, torn).isEmpty,
      "a torn namespace clone must be invisible")
    val re = SnapshotLog.cloneNamespace(spark, torn,
      Seq(("a", a, 1), ("b", b, 1)))
    assert(re.size == 2 &&
      SnapshotLog.namespaceCloneMembers(spark, torn).size == 2)
    assert(re.head.asOf(1).count() == 2)
  }

  test("namespace clone carries members' evolution metadata") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.SnapshotLog
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // an EVOLVED member: narrow commit, widen, rename, default — the
    // clone must serve the same logical view (commitCloneFrom carries
    // colmap/widen/coldefault; this pins it THROUGH the namespace txn)
    val src = new SnapshotLog.Table(spark, tmp("graft_nsevo_src_"))
    src.commitAppend(Seq((1, "x", 10L)).toDF("k", "part", "v")
      .coalesce(1), "part")
    src.widenColumn("k", "bigint")
    src.renameColumn("v", "metric")
    src.addColumnDefault("score", "bigint", "7")
    val ns = tmp("graft_nsevo_ns_")
    val Seq(c) = SnapshotLog.cloneNamespace(spark, ns,
      Seq(("m", src, src.version)))
    val row = c.asOf(1).select("k", "metric", "score").head()
    assert(c.asOf(1).schema("k").dataType ==
      org.apache.spark.sql.types.LongType,
      "widening lost through the namespace clone")
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((1L, 10L, 7L)),
      s"evolved member served wrong logical view: $row")
  }
}
