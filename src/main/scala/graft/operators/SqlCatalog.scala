package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint

/** The SQL-catalog seam, oracle-checked: snapshot tables addressed
  * through the DSv2 [[graft.catalog.GraftCatalog]] (`SELECT …
  * VERSION AS OF`, `CREATE TABLE`, `INSERT INTO … SELECT`,
  * `ALTER TABLE … RENAME COLUMN`) must produce bit-identical results
  * to the Scala storage API and to DuckDB recomputing from the raw
  * parquet. CatalogSqlSpec carries the plan-parity burden (same files
  * pruned via SQL as via `asOf`); these queries carry the
  * hash-checked END RESULT through the driver's DuckDB gate.
  *
  * Cf. reference `clone_databases.sh:870-1027` — the reference
  * addresses every table through its engine's SQL catalog; this is
  * the equivalent front door for the snapshot storage layer. */
object SqlCatalog {

  /** Register the catalog under `name`, pointed at `warehouse`.
    * Registration is idempotent; the warehouse knob is re-read from
    * the live conf per resolution (see GraftCatalog.warehouse), so
    * repointing one name across fixtures in a session is safe. */
  private def register(spark: SparkSession, name: String,
      warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  /** A session over the SAME SparkContext with [[graft.GraftExtensions]]
    * installed — SQL MERGE INTO needs the extension's resolution rule,
    * and extensions bind at SESSION construction (a production
    * deployment sets `spark.sql.extensions=graft.GraftExtensions` on
    * the cluster conf; the driver's harness session has none). Built
    * once per context and cached; default/active session restored, so
    * the surrounding query runner never observes the swap. */
  @volatile private var extSession: SparkSession = _
  private def extensionSession(spark: SparkSession): SparkSession =
    synchronized {
      if (extSession == null ||
          extSession.sparkContext != spark.sparkContext) {
        val d = SparkSession.getDefaultSession
        val a = SparkSession.getActiveSession
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        try extSession = SparkSession.builder()
          .withExtensions(new graft.GraftExtensions().apply(_))
          .getOrCreate()
        finally {
          d.foreach(SparkSession.setDefaultSession)
          a.foreach(SparkSession.setActiveSession)
        }
      }
      extSession
    }

  val defs: Seq[QueryDef] = Seq(

    // ---- SQL read + time travel over the staged snapshot table: the
    //      SAME 4-commit orders table every q_snapshot_* query uses,
    //      addressed as `catalog`.`table` with VERSION AS OF 2 (the
    //      first two date-cut commits = o_date < 1999-01-01). The SQL
    //      plan rides the manifest-pruned scan (V1Scan over
    //      SnapshotFileIndex); the oracle recomputes the version's
    //      content from the raw parquet — a SQL-side wrong version
    //      pin, lost filter, or misrouted column flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_read",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
      val t = FileIndex.idxStagedTable(spark, dir)
      val root = new java.io.File(t.root)
      register(spark, "gqread", root.getParent)
      spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n_rows,
           |  sum(price_cents) AS sum_cents,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM gqread.`${root.getName}` VERSION AS OF 2
           |GROUP BY o_orderstatus
           |ORDER BY o_orderstatus""".stripMargin)
    },

    // ---- SQL DDL + write round-trip: CREATE TABLE through the
    //      catalog, INSERT INTO … SELECT from the source parquet
    //      (→ commitAppend under the hood), metadata-only RENAME
    //      COLUMN (→ a colmap commit — zero data bytes move), read
    //      back under the renamed logical schema. The oracle is the
    //      source table under the final names — any DDL step that
    //      rewrote, lost or misrouted data flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_ddl",
      """SELECT CAST(n_nationkey AS BIGINT) AS nkey,
        |  CAST(n_regionkey AS VARCHAR) AS rpart,
        |  n_name AS nation_name
        |FROM nation
        |ORDER BY nkey""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlddl_").toString
      register(spark, "gqddl", wh)
      spark.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_src")
      spark.sql("CREATE TABLE gqddl.nat " +
        "(nkey BIGINT, rpart STRING, nname STRING) PARTITIONED BY (rpart)")
      spark.sql("INSERT INTO gqddl.nat " +
        "SELECT CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS STRING)," +
        " n_name FROM nation_src")
      spark.sql("ALTER TABLE gqddl.nat RENAME COLUMN nname TO nation_name")
      spark.sql(
        "SELECT nkey, rpart, nation_name FROM gqddl.nat ORDER BY nkey")
    },

    // ---- SQL MERGE INTO (round 13): the canonical upsert through the
    //      extension rule (GraftMergeRule → ONE merge-on-read commit:
    //      DV tombstones + adds, zero file rewrites). The oracle
    //      reconstructs the merged state relationally (anti-join ⊎
    //      source), so a lost update, resurrected key, doubled insert,
    //      or misrouted clause flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_merge",
      """WITH base AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS nkey,
        |    CAST(n_regionkey AS VARCHAR) AS rpart, n_name AS nname
        |  FROM nation
        |), src AS (
        |  SELECT nkey, rpart, upper(nname) AS nname
        |  FROM base WHERE nkey % 2 = 0
        |  UNION ALL
        |  SELECT nkey + 100, rpart,
        |    'NEW_' || CAST(nkey AS VARCHAR) AS nname
        |  FROM base WHERE nkey % 2 = 0
        |), merged AS (
        |  SELECT * FROM base
        |  WHERE nkey NOT IN (SELECT nkey FROM src)
        |  UNION ALL SELECT * FROM src
        |)
        |SELECT nkey, rpart, nname FROM merged
        |ORDER BY nkey""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmrg_").toString
      register(es, "gqmrg", wh)
      es.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_mrg_src")
      es.sql("CREATE TABLE gqmrg.nat " +
        "(nkey BIGINT, rpart STRING, nname STRING) PARTITIONED BY (rpart)")
      es.sql("INSERT INTO gqmrg.nat " +
        "SELECT CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS STRING)," +
        " n_name FROM nation_mrg_src")
      es.sql("""SELECT nkey, rpart, upper(nname) AS nname
        |FROM gqmrg.nat WHERE nkey % 2 = 0
        |UNION ALL
        |SELECT nkey + 100, rpart,
        |  concat('NEW_', CAST(nkey AS STRING)) AS nname
        |FROM gqmrg.nat WHERE nkey % 2 = 0""".stripMargin)
        .createOrReplaceTempView("mrg_batch")
      es.sql("MERGE INTO gqmrg.nat USING mrg_batch " +
        "ON nat.nkey = mrg_batch.nkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      es.sql("SELECT nkey, rpart, nname FROM gqmrg.nat ORDER BY nkey")
    },

    // ---- SQL CHECK constraints (round 14): ADD CONSTRAINT via DDL,
    //      enforced by every write commit — a violating INSERT must
    //      land NOTHING (atomic refusal), a conforming one passes,
    //      DROP CONSTRAINT lifts the gate. The oracle recomputes the
    //      accepted-row set; an admitted violator or a lost
    //      conforming batch flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_constraints",
      """SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CAST(n_regionkey AS VARCHAR) AS part,
        |  CAST(n_nationkey * 10 AS BIGINT) AS v
        |FROM nation
        |WHERE n_nationkey > 0
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT),
        |  CAST(n_regionkey AS VARCHAR),
        |  CAST(-n_nationkey AS BIGINT)
        |FROM nation WHERE n_nationkey > 0
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlck_").toString
      register(spark, "gqck", wh)
      spark.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_ck_src")
      spark.sql("CREATE TABLE gqck.nat (k BIGINT, part STRING, " +
        "v BIGINT) PARTITIONED BY (part)")
      spark.sql("INSERT INTO gqck.nat SELECT " +
        "CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS STRING), " +
        "CAST(n_nationkey * 10 AS BIGINT) FROM nation_ck_src " +
        "WHERE n_nationkey > 0")
      spark.sql("ALTER TABLE gqck.nat ADD CONSTRAINT v_pos " +
        "CHECK (v > 0)")
      // the violating batch must land NOTHING
      val refused =
        try { spark.sql("INSERT INTO gqck.nat SELECT " +
          "CAST(n_nationkey + 200 AS BIGINT), " +
          "CAST(n_regionkey AS STRING), CAST(0 AS BIGINT) " +
          "FROM nation_ck_src WHERE n_nationkey > 0"); false }
        catch { case e: Exception => e.getMessage.contains("v_pos") }
      require(refused, "violating INSERT was admitted past v_pos")
      // DROP lifts the gate; the negative batch then lands
      spark.sql("ALTER TABLE gqck.nat DROP CONSTRAINT v_pos")
      spark.sql("INSERT INTO gqck.nat SELECT " +
        "CAST(n_nationkey + 100 AS BIGINT), " +
        "CAST(n_regionkey AS STRING), CAST(-n_nationkey AS BIGINT) " +
        "FROM nation_ck_src WHERE n_nationkey > 0")
      val out = spark.sql(
        "SELECT k, part, v FROM gqck.nat ORDER BY k").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- SQL identity columns (round 14): GENERATED ALWAYS AS
    //      IDENTITY through the catalog — ids engine-assigned past
    //      the manifest watermark, contiguous across commits, the
    //      in-batch order a deterministic sort over the remaining
    //      columns (name-sorted: cents, k, part). The oracle replays
    //      the exact assignment as row_number() over (batch, cents,
    //      k, part) — a gap, duplicate, reused id, or nondeterministic
    //      in-batch order flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_identity",
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    c_mktsegment AS part,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS b
        |  FROM customer
        |)
        |SELECT CAST(row_number() OVER (ORDER BY b, cents, k, part)
        |    AS BIGINT) AS id,
        |  k, part, cents
        |FROM base ORDER BY id""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlid_").toString
      register(spark, "gqid", wh)
      spark.read.parquet(s"$dir/customer.parquet")
        .createOrReplaceTempView("cust_id_src")
      spark.sql("CREATE TABLE gqid.cust (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, k BIGINT, part STRING, cents BIGINT) " +
        "PARTITIONED BY (part)")
      // two batches: ids 1..n over batch 1, n+1..N over batch 2
      Seq(0, 1).foreach(parity => spark.sql(
        "INSERT INTO gqid.cust (k, part, cents) SELECT " +
          "CAST(c_custkey AS BIGINT), c_mktsegment, " +
          "CAST(round(c_acctbal * 100) AS BIGINT) FROM cust_id_src " +
          s"WHERE c_custkey % 2 = $parity"))
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/cust")
      require(t.identityWatermark("id") ==
        spark.sql("SELECT count(*) FROM gqid.cust").head().getLong(0),
        "identity watermark must equal the row count (dense, no gaps)")
      val out = spark.sql(
        "SELECT id, k, part, cents FROM gqid.cust ORDER BY id")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- batch CDF through SQL (round 14): the table_changes TVF
    //      (GraftExtensions injectTableFunction) over a catalog table
    //      with a MOR delete and a re-insert — changes FROM version 2
    //      (inclusive start, Delta's starting_version contract as of
    //      round 15) are exactly (v2 deletes, v3 inserts). The
    //      oracle recomputes both deltas by predicate algebra: a
    //      missed tombstone, a resurrected row, an off-by-one version
    //      bound, or a double-emitted position flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_cdf",
      """WITH victims AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 = 0
        |)
        |SELECT CAST(2 AS BIGINT) AS _version, 'delete' AS change,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM victims
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'insert', count(*),
        |  CAST(sum(cents + 1) AS BIGINT)
        |FROM victims
        |ORDER BY _version""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlcdf_").toString
      register(es, "gqcdf", wh)
      es.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("orders_cdf_src")
      es.sql("CREATE TABLE gqcdf.ord (k BIGINT, part STRING, " +
        "cents BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gqcdf.ord SELECT o_orderkey, " +
        "o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "FROM orders_cdf_src WHERE o_orderkey % 2 = 0") // v1: the seed
      val keys = es.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 2 === 0 &&
          col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").cast("long")).collect()
        .map(_.getLong(0)).sorted
      es.sql(s"DELETE FROM gqcdf.ord WHERE k IN " +
        s"(${keys.mkString(", ")})") // v2: MOR tombstones
      es.sql("INSERT INTO gqcdf.ord SELECT o_orderkey, " +
        "o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) + 1 " +
        "FROM orders_cdf_src " +
        "WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 = 0") // v3
      val out = es.sql("""SELECT _version, _change AS change,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM table_changes('gqcdf.ord', 2)
        |GROUP BY _version, _change
        |ORDER BY _version""".stripMargin).transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- SQL maintenance procedures (round 14): CALL
    //      graft.system.compact / cluster / vacuum / history over a
    //      staged table with live deletion vectors — compaction must
    //      APPLY the DVs (not resurrect, not double-delete),
    //      clustering must be result-invariant, vacuum must reclaim
    //      without touching the live version, and history must name
    //      every commit. The oracle recomputes the survivor set; the
    //      in-query requires pin the maintenance effects (file count
    //      shrank, DV retired, history row per version).
    QueryDef.checked(
      "q_snapshot_sql_maintenance",
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  c_mktsegment AS part, c_name AS name,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |FROM customer
        |WHERE c_custkey % 13 <> 0
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmnt_").toString
      register(spark, "gqmnt", wh)
      val src = spark.read.parquet(s"$dir/customer.parquet")
      src.createOrReplaceTempView("cust_mnt_src")
      spark.sql("CREATE TABLE gqmnt.cust (k BIGINT, part STRING, " +
        "name STRING, cents BIGINT) PARTITIONED BY (part)")
      // three slices -> several files per partition (compactable)
      (0 until 3).foreach(i => spark.sql(
        "INSERT INTO gqmnt.cust SELECT CAST(c_custkey AS BIGINT), " +
          "c_mktsegment, c_name, CAST(round(c_acctbal * 100) AS BIGINT) " +
          s"FROM cust_mnt_src WHERE c_custkey % 3 = $i"))
      val keys = src.filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey").cast("long")).collect()
        .map(_.getLong(0)).sorted
      spark.sql(s"DELETE FROM gqmnt.cust WHERE k IN " +
        s"(${keys.mkString(", ")})") // v4: MOR DVs
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/cust")
      val filesBefore = t.liveFiles(t.version).size
      val cv = spark.sql(
        "CALL gqmnt.system.compact(table => 'cust')").head().getInt(0)
      require(t.liveFiles(cv).size < filesBefore,
        "SQL compaction did not shrink the live set")
      require(t.entries.filter(_.version == cv)
        .forall(_.action != "dv"),
        "compaction must retire deletion vectors, not re-bind them")
      spark.sql("CALL gqmnt.system.cluster(table => 'cust', " +
        "cluster_col => 'k', files_per_range => 2)")
      val hist = spark.sql(
        "CALL gqmnt.system.history(table => 'cust')").collect()
      require(hist.length == t.version && hist.map(_.getInt(0)).toSeq
        == (1 to t.version), s"history rows wrong: ${hist.length}")
      val reclaimed = spark.sql("CALL gqmnt.system.vacuum(" +
        "table => 'cust', retain_versions => 1)").head().getLong(0)
      require(reclaimed > 0, "vacuum reclaimed nothing after compact")
      val out = spark.sql(
        "SELECT k, part, name, cents FROM gqmnt.cust ORDER BY k")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- streaming SQL sink (round 14): `writeStream.toTable` into
    //      a graft catalog table — executor-written parquet epochs
    //      adopted under (queryId, epochId) txn markers, exactly-once
    //      across a checkpoint restart (the q_stream_txn_sink
    //      contract, now as the engine's NATIVE streaming ingest).
    //      The query lands the events table in two phases with a
    //      restart between them, replays a committed epoch txn (must
    //      be a logged no-op), then reads the table back through SQL;
    //      the oracle recomputes from the raw events — a dropped
    //      epoch, duplicated epoch, or misrouted partition flips the
    //      hash.
    QueryDef.checked(
      "q_stream_sql_sink",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types._
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlsw_").toString
      register(spark, "gqsw", wh)
      spark.sql("CREATE TABLE gqsw.ev (user_id BIGINT, " +
        "event_type STRING, cents BIGINT) PARTITIONED BY (event_type)")
      val base = java.nio.file.Files.createTempDirectory("graft_sqlsw_s_")
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          org.apache.spark.sql.functions
            .expr("cast(round(value * 100) as bigint)").as("cents"))
      def land(parity: Int): Unit =
        ev.filter(col("event_id") % 2 === parity).drop("event_id")
          .coalesce(1).write.mode("append").parquet(srcDir)
      val sch = StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("cents", LongType)))
      def runOnce(): Unit = {
        val q = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .writeStream.option("checkpointLocation", ckpt)
          .toTable("gqsw.ev")
        try q.processAllAvailable() finally q.stop()
      }
      land(0); runOnce() // phase 1, clean stop
      land(1); runOnce() // phase 2: restart from the checkpoint
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/ev")
      val txns = t.committedTxns.filter(_.startsWith("toTable-"))
      require(txns.nonEmpty, "streamed epochs carry no txn markers")
      // duplicate delivery of a committed epoch: must be a no-op
      val dup = t.commitAdoptStreamed(s"$wh/ev/_stream_tmp/replay",
        Seq.empty, "event_type", txns.head)
      require(!dup, "replayed epoch admitted — exactly-once broken")
      val out = spark.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM gqsw.ev GROUP BY event_type
        |ORDER BY event_type""".stripMargin).transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- typed UPDATE bounds (round 14): STRING and DATE WHERE
    //      ranges route to the typed zone-map prunes (string zone
    //      maps / epoch-day-widened date stats) with the statement's
    //      own WHERE as the row predicate — strict bounds must not
    //      leak into the inclusive prune. Two sequential UPDATEs
    //      compose; the oracle recomputes both with CASE algebra, so
    //      a row updated outside the bound, missed inside it, or
    //      double-applied flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_update_str",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) AS d,
        |    o_orderpriority AS pri
        |  FROM orders WHERE o_orderkey % 7 = 0
        |)
        |SELECT k, part,
        |  CAST(CASE WHEN pri >= '1' AND pri < '3'
        |    THEN (cents + CASE WHEN d BETWEEN DATE '1995-01-01'
        |      AND DATE '1995-12-31' THEN 7 ELSE 0 END) * 2
        |    ELSE cents + CASE WHEN d BETWEEN DATE '1995-01-01'
        |      AND DATE '1995-12-31' THEN 7 ELSE 0 END
        |  END AS BIGINT) AS cents
        |FROM base ORDER BY k""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_squpds_").toString
      register(spark, "gqus", wh)
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("orders_us_src")
      spark.sql("CREATE TABLE gqus.ord (k BIGINT, part STRING, " +
        "d DATE, pri STRING, cents BIGINT) PARTITIONED BY (part)")
      spark.sql("INSERT INTO gqus.ord SELECT o_orderkey, " +
        "o_orderstatus, CAST(o_orderdate AS DATE), o_orderpriority, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) " +
        "FROM orders_us_src WHERE o_orderkey % 7 = 0")
      // UPDATE routing needs the GraftExtensions rule
      val es = extensionSession(spark)
      register(es, "gqus", wh)
      es.sql("UPDATE gqus.ord SET cents = cents + 7 WHERE d BETWEEN " +
        "DATE '1995-01-01' AND DATE '1995-12-31'")
      es.sql("UPDATE gqus.ord SET cents = cents * 2 " +
        "WHERE pri >= '1' AND pri < '3'")
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/ord")
      require(t.version == 3,
        s"INSERT + 2 typed UPDATEs = 3 commits, got v${t.version}")
      val out = spark.sql(
        "SELECT k, part, cents FROM gqus.ord ORDER BY k")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- conditional MERGE (round 14): tri-clause first-match-wins
    //      semantics — conditional DELETE, conditional partial-SET
    //      UPDATE with BOTH-side references (t.cents + src.delta),
    //      conditional INSERT — routed through GraftMergeRule to ONE
    //      commitApplyChanges CDC commit over candidate-pruned files.
    //      The oracle reconstructs the post-merge state by predicate
    //      algebra: a misrouted clause, a row updated by the wrong
    //      clause, an unfired-clause row touched, a dropped-clause row
    //      inserted, or a double-applied delta flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_merge_cond",
      """WITH base AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS k,
        |    CAST(s_nationkey AS VARCHAR) AS part, s_name AS name,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS cents
        |  FROM supplier
        |), kept AS (
        |  SELECT k, part, name,
        |    CASE WHEN k % 7 = 0 THEN cents + k * 3 ELSE cents END
        |      AS cents,
        |    CASE WHEN k % 7 = 0 THEN 'updated' ELSE 'base' END
        |      AS status
        |  FROM base WHERE k % 11 <> 0
        |), ins AS (
        |  SELECT k + 10000 AS k, part, 'new' AS name, k AS cents,
        |    'inserted' AS status
        |  FROM base WHERE k % 13 = 0
        |)
        |SELECT k, part, name, cents, status FROM kept
        |UNION ALL SELECT k, part, name, cents, status FROM ins
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlmc_").toString
      register(es, "gqmc", wh)
      es.read.parquet(s"$dir/supplier.parquet")
        .createOrReplaceTempView("supplier_mc_src")
      es.sql("CREATE TABLE gqmc.sup (k BIGINT, part STRING, " +
        "name STRING, cents BIGINT, status STRING) PARTITIONED BY (part)")
      es.sql("INSERT INTO gqmc.sup SELECT CAST(s_suppkey AS BIGINT), " +
        "CAST(s_nationkey AS STRING), s_name, " +
        "CAST(round(s_acctbal * 100) AS BIGINT), 'base' " +
        "FROM supplier_mc_src")
      es.sql("""SELECT CAST(s_suppkey AS BIGINT) AS k,
        |  CAST(s_nationkey AS STRING) AS part,
        |  CAST(s_suppkey * 3 AS BIGINT) AS delta, 'D' AS op
        |FROM supplier_mc_src WHERE s_suppkey % 11 = 0
        |UNION ALL
        |SELECT CAST(s_suppkey AS BIGINT),
        |  CAST(s_nationkey AS STRING),
        |  CAST(s_suppkey * 3 AS BIGINT), 'U'
        |FROM supplier_mc_src
        |WHERE s_suppkey % 11 <> 0 AND s_suppkey % 7 = 0
        |UNION ALL
        |SELECT CAST(s_suppkey AS BIGINT),
        |  CAST(s_nationkey AS STRING),
        |  CAST(0 AS BIGINT), 'N'
        |FROM supplier_mc_src
        |WHERE s_suppkey % 11 <> 0 AND s_suppkey % 7 <> 0
        |  AND s_suppkey % 5 = 0
        |UNION ALL
        |SELECT CAST(s_suppkey + 10000 AS BIGINT),
        |  CAST(s_nationkey AS STRING),
        |  CAST(s_suppkey AS BIGINT), 'I'
        |FROM supplier_mc_src WHERE s_suppkey % 13 = 0
        |UNION ALL
        |SELECT CAST(s_suppkey + 20000 AS BIGINT),
        |  CAST(s_nationkey AS STRING),
        |  CAST(s_suppkey AS BIGINT), 'X'
        |FROM supplier_mc_src WHERE s_suppkey % 13 = 0""".stripMargin)
        .createOrReplaceTempView("mc_batch")
      es.sql("""MERGE INTO gqmc.sup USING mc_batch
        |ON sup.k = mc_batch.k
        |WHEN MATCHED AND mc_batch.op = 'D' THEN DELETE
        |WHEN MATCHED AND mc_batch.op = 'U' THEN
        |  UPDATE SET cents = sup.cents + mc_batch.delta,
        |    status = 'updated'
        |WHEN NOT MATCHED AND mc_batch.op = 'I' THEN
        |  INSERT (k, part, name, cents, status)
        |  VALUES (mc_batch.k, mc_batch.part, 'new', mc_batch.delta,
        |    'inserted')""".stripMargin)
      // routing proof: the target side was candidate-pruned, not
      // scanned (the CDC commit's instrumentation), and the whole
      // merge is ONE commit on top of the staging insert
      val t = graft.catalog.GraftSqlTable.handleFor(es, s"$wh/sup")
      require(t.lastMergeScan.isDefined,
        "conditional MERGE bypassed the candidate prune")
      require(t.version == 2,
        s"conditional MERGE must be ONE commit, table at v${t.version}")
      val out = es.sql("SELECT k, part, name, cents, status " +
        "FROM gqmc.sup ORDER BY k").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- SQL key-set DELETE (round 14): `WHERE k IN (…)` and
    //      `WHERE name = 'str'` route to the deletion-vector MOR
    //      commit — zero data files written, zone-map + bloom-pruned
    //      candidates, O(victims) bytes (the round-13 verdict's top
    //      remainder). In-query requires pin the ROUTING (DV entries,
    //      no adds, live file set unchanged); the oracle recomputes
    //      the survivor set relationally, so a resurrected victim, a
    //      lost survivor, or an over-wide tombstone flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_delete_keys",
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  c_mktsegment AS part, c_name AS name,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |FROM customer
        |WHERE c_custkey % 97 <> 0 AND c_custkey % 89 <> 0
        |  AND c_name <> 'Customer#000000003'
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqldelk_").toString
      register(es, "gqdelk", wh)
      val src = es.read.parquet(s"$dir/customer.parquet")
      src.createOrReplaceTempView("cust_delk_src")
      es.sql("CREATE TABLE gqdelk.cust (k BIGINT, part STRING, " +
        "name STRING, cents BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gqdelk.cust SELECT " +
        "CAST(c_custkey AS BIGINT), c_mktsegment, c_name, " +
        "CAST(round(c_acctbal * 100) AS BIGINT) FROM cust_delk_src")
      // the key set: every 97th customer — SF-independent predicate,
      // literal IN-list in the statement (bounded: corpus/97 keys)
      val keys = src.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").cast("long")).collect()
        .map(_.getLong(0)).sorted
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/cust")
      val filesBefore = t.liveFiles(t.version).toSet
      es.sql(s"DELETE FROM gqdelk.cust WHERE k IN " +
        s"(${keys.mkString(", ")})")
      // routing proof: deletion vectors, not a rewrite
      require(t.liveFiles(t.version).toSet == filesBefore,
        "key-set DELETE rewrote data files (must be MOR DVs)")
      require(t.entries.filter(_.version == t.version)
        .exists(_.action == "dv"),
        "key-set DELETE wrote no deletion vectors")
      // string-key equality on a non-partition column: same MOR path
      es.sql("DELETE FROM gqdelk.cust " +
        "WHERE name = 'Customer#000000003'")
      require(t.liveFiles(t.version).toSet == filesBefore,
        "string-key DELETE rewrote data files (must be MOR DVs)")
      // SUBQUERY key set (round 14): never a pushable source filter —
      // the extension rule evaluates it and lands the same MOR commit
      es.sql("DELETE FROM gqdelk.cust WHERE k IN " +
        "(SELECT CAST(c_custkey AS BIGINT) FROM cust_delk_src " +
        "WHERE c_custkey % 89 = 0)")
      require(t.liveFiles(t.version).toSet == filesBefore,
        "subquery DELETE rewrote data files (must be MOR DVs)")
      val out = es.sql(
        "SELECT k, part, name, cents FROM gqdelk.cust ORDER BY k")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- SQL UPDATE (round 13): integer-bounded WHERE → the
    //      zone-map-pruned COW range update (commitUpdate); SET
    //      expressions reference the row's own columns. Oracle = the
    //      same CASE over the raw table — an update leaking outside
    //      the range, a lost non-updated column, or a double-applied
    //      expression flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_update",
      """SELECT CAST(s_suppkey AS BIGINT) AS k,
        |  CAST(s_nationkey AS VARCHAR) AS part,
        |  CASE WHEN s_suppkey BETWEEN 10 AND 40
        |    THEN CAST(round(s_acctbal * 100) AS BIGINT) * 2 + s_suppkey
        |    ELSE CAST(round(s_acctbal * 100) AS BIGINT) END AS cents
        |FROM supplier
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqlupd_").toString
      register(es, "gqupd", wh)
      es.read.parquet(s"$dir/supplier.parquet")
        .createOrReplaceTempView("supplier_upd_src")
      es.sql("CREATE TABLE gqupd.sup " +
        "(k BIGINT, part STRING, cents BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gqupd.sup " +
        "SELECT CAST(s_suppkey AS BIGINT), CAST(s_nationkey AS STRING)," +
        " CAST(round(s_acctbal * 100) AS BIGINT) FROM supplier_upd_src")
      es.sql(
        "UPDATE gqupd.sup SET cents = cents * 2 + k " +
          "WHERE k >= 10 AND k <= 40")
      es.sql("SELECT k, part, cents FROM gqupd.sup ORDER BY k")
    },

    // ---- UPDATE shape parity with DELETE (round 15, part 1):
    //      a multi-column conjunction prunes on the best-bounded
    //      column (two-sided integer range) with the FULL WHERE as
    //      the exact row predicate, and a partition-equality UPDATE
    //      routes to the partition-scoped COW whose blast radius is
    //      that partition's files — asserted in-query (files of other
    //      partitions carry by log reference, untouched). The oracle
    //      composes both statements with CASE algebra; a row updated
    //      outside either predicate, missed inside one, or
    //      double-applied flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_update_multi",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), s1 AS (
        |  SELECT k, part, pri,
        |    CASE WHEN k BETWEEN 1000 AND 50000 AND pri >= '3'
        |      THEN cents * 2 ELSE cents END AS cents
        |  FROM base
        |)
        |SELECT k, part,
        |  CAST(CASE WHEN part = 'F' THEN cents + 11 ELSE cents END
        |    AS BIGINT) AS cents
        |FROM s1 ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_squm_").toString
      register(es, "gqum", wh)
      es.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("orders_um_src")
      es.sql("CREATE TABLE gqum.ord (k BIGINT, part STRING, " +
        "pri STRING, cents BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gqum.ord SELECT o_orderkey, o_orderstatus, " +
        "o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "FROM orders_um_src WHERE o_orderkey % 7 = 0")
      // multi-column conjunction: prune bounds from k (two-sided),
      // the pri conjunct rides as row truth
      es.sql("UPDATE gqum.ord SET cents = cents * 2 " +
        "WHERE k >= 1000 AND k <= 50000 AND pri >= '3'")
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/ord")
      val nonF = t.liveFiles(t.version)
        .filterNot(_.startsWith("part=F/")).toSet
      // partition equality: COW scoped to part=F
      es.sql("UPDATE gqum.ord SET cents = cents + 11 WHERE part = 'F'")
      require(t.liveFiles(t.version)
        .filterNot(_.startsWith("part=F/")).toSet == nonF,
        "partition UPDATE touched files outside its partition")
      require(t.version == 3,
        s"INSERT + 2 UPDATEs must be 3 commits, got v${t.version}")
      val out = es.sql(
        "SELECT k, part, cents FROM gqum.ord ORDER BY k")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- UPDATE shape parity with DELETE (round 15, part 2): key-set
    //      UPDATEs — `k IN (literal list)` and `k IN (subquery)` —
    //      route to the candidate-pruned keyed rewrite (ONE
    //      commitApplyChanges CDC commit over zone-map + bloom pruned
    //      candidate files, never a table scan), mirroring
    //      q_snapshot_sql_delete_keys. The candidate prune is
    //      asserted in-query through the commit's instrumentation;
    //      the oracle recomputes both updates by CASE algebra.
    QueryDef.checked(
      "q_snapshot_sql_update_keys",
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    c_mktsegment AS part, c_name AS name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |)
        |SELECT k, part, name,
        |  CAST((CASE WHEN k % 97 = 0 THEN cents + 1000 ELSE cents END)
        |    * (CASE WHEN k % 89 = 0 THEN 2 ELSE 1 END) AS BIGINT)
        |    AS cents
        |FROM base ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_squk_").toString
      register(es, "gquk", wh)
      val src = es.read.parquet(s"$dir/customer.parquet")
      src.createOrReplaceTempView("cust_uk_src")
      es.sql("CREATE TABLE gquk.cust (k BIGINT, part STRING, " +
        "name STRING, cents BIGINT) PARTITIONED BY (part)")
      es.sql("INSERT INTO gquk.cust SELECT " +
        "CAST(c_custkey AS BIGINT), c_mktsegment, c_name, " +
        "CAST(round(c_acctbal * 100) AS BIGINT) FROM cust_uk_src")
      val keys = src.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").cast("long")).collect()
        .map(_.getLong(0)).sorted
      es.sql(s"UPDATE gquk.cust SET cents = cents + 1000 " +
        s"WHERE k IN (${keys.mkString(", ")})")
      val t = graft.catalog.GraftSqlTable.handleFor(spark, s"$wh/cust")
      require(t.lastMergeScan.exists { case (c, l) => c <= l },
        "key-set UPDATE bypassed the candidate prune")
      require(t.version == 2,
        s"literal key-set UPDATE must be ONE commit, got v${t.version}")
      // subquery key set: evaluated once by the resolution rule,
      // landed on the same candidate-pruned keyed rewrite
      es.sql("UPDATE gquk.cust SET cents = cents * 2 WHERE k IN " +
        "(SELECT CAST(c_custkey AS BIGINT) FROM cust_uk_src " +
        "WHERE c_custkey % 89 = 0)")
      require(t.version == 3,
        s"subquery key-set UPDATE must be ONE commit, got v${t.version}")
      val out = es.sql(
        "SELECT k, part, name, cents FROM gquk.cust ORDER BY k")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- identity-generating MERGE INSERT (round 15): the last
    //      user-facing MERGE refusal from round 14 — INSERT clauses
    //      into a GENERATED ALWAYS identity table now synthesize ids
    //      from the commit-CAS watermark exactly like INSERT INTO
    //      (contiguous past the watermark, name-sorted in-batch
    //      order, the idwm entry riding the SAME segment as the
    //      rewrite), while matched rows keep their existing ids —
    //      identity values are assigned once, never reassigned. The
    //      oracle replays the exact assignment with row_number()
    //      algebra; a gap, reused id, reassigned matched id, or
    //      nondeterministic order flips the hash.
    QueryDef.checked(
      "q_snapshot_sql_merge_identity",
      """WITH base AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS k,
        |    CAST(s_nationkey AS VARCHAR) AS part,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS cents
        |  FROM supplier
        |), seed AS (
        |  SELECT CAST(row_number() OVER (ORDER BY cents, k, part)
        |    AS BIGINT) AS id, k, part, cents
        |  FROM base
        |), upd AS (
        |  SELECT id, k, part,
        |    CASE WHEN k % 7 = 0 THEN cents + k * 3 ELSE cents END
        |      AS cents
        |  FROM seed
        |), ins0 AS (
        |  SELECT k + 10000 AS k, part, k AS cents
        |  FROM base WHERE k % 13 = 0
        |), ins AS (
        |  SELECT (SELECT count(*) FROM base) +
        |    CAST(row_number() OVER (ORDER BY cents, k, part)
        |      AS BIGINT) AS id, k, part, cents
        |  FROM ins0
        |)
        |SELECT id, k, part, cents FROM upd
        |UNION ALL SELECT id, k, part, cents FROM ins
        |ORDER BY id""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqmi_").toString
      register(es, "gqmi", wh)
      es.read.parquet(s"$dir/supplier.parquet")
        .createOrReplaceTempView("supplier_mi_src")
      es.sql("CREATE TABLE gqmi.sup (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY, k BIGINT, part STRING, cents BIGINT) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gqmi.sup (k, part, cents) SELECT " +
        "CAST(s_suppkey AS BIGINT), CAST(s_nationkey AS STRING), " +
        "CAST(round(s_acctbal * 100) AS BIGINT) FROM supplier_mi_src")
      es.sql("""SELECT CAST(s_suppkey AS BIGINT) AS k,
        |  CAST(s_nationkey AS STRING) AS part,
        |  CAST(s_suppkey * 3 AS BIGINT) AS delta
        |FROM supplier_mi_src WHERE s_suppkey % 7 = 0
        |UNION ALL
        |SELECT CAST(s_suppkey + 10000 AS BIGINT),
        |  CAST(s_nationkey AS STRING), CAST(s_suppkey AS BIGINT)
        |FROM supplier_mi_src WHERE s_suppkey % 13 = 0""".stripMargin)
        .createOrReplaceTempView("mi_batch")
      es.sql("""MERGE INTO gqmi.sup USING mi_batch
        |ON sup.k = mi_batch.k
        |WHEN MATCHED THEN
        |  UPDATE SET cents = sup.cents + mi_batch.delta
        |WHEN NOT MATCHED THEN
        |  INSERT (k, part, cents)
        |  VALUES (mi_batch.k, mi_batch.part, mi_batch.delta)"""
        .stripMargin)
      val t = graft.catalog.GraftSqlTable.handleFor(es, s"$wh/sup")
      require(t.version == 2,
        s"identity MERGE must be ONE commit, got v${t.version}")
      require(t.identityWatermark("id") ==
        es.sql("SELECT count(*) FROM gqmi.sup").head().getLong(0),
        "identity watermark must equal the row count (dense, no gaps)")
      val out = es.sql(
        "SELECT id, k, part, cents FROM gqmi.sup ORDER BY id")
        .transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- WHEN NOT MATCHED BY SOURCE (round 15): the tri-directional
    //      MERGE — matched updates, and target rows with NO source
    //      match either deleted (conditionally) or flagged stale,
    //      first-match-wins between the two NMBS clauses — all folded
    //      into ONE candidate-bounded CDC commit. The oracle
    //      reconstructs the post-merge state by predicate algebra: an
    //      NMBS clause fired on a matched row, a row deleted by the
    //      wrong clause, or a stale flag on a fresh row flips the
    //      hash.
    QueryDef.checked(
      "q_snapshot_sql_merge_nmbs",
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    c_mktsegment AS part, c_name AS name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |)
        |SELECT k, part, name,
        |  CAST(CASE WHEN k % 3 = 0 THEN cents + k ELSE cents END
        |    AS BIGINT) AS cents,
        |  CASE WHEN k % 3 = 0 THEN 'live' ELSE 'stale' END AS status
        |FROM base
        |WHERE k % 3 = 0 OR cents >= 100000
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val es = extensionSession(spark)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqnb_").toString
      register(es, "gqnb", wh)
      es.read.parquet(s"$dir/customer.parquet")
        .createOrReplaceTempView("cust_nb_src")
      es.sql("CREATE TABLE gqnb.cust (k BIGINT, part STRING, " +
        "name STRING, cents BIGINT, status STRING) " +
        "PARTITIONED BY (part)")
      es.sql("INSERT INTO gqnb.cust SELECT " +
        "CAST(c_custkey AS BIGINT), c_mktsegment, c_name, " +
        "CAST(round(c_acctbal * 100) AS BIGINT), 'live' " +
        "FROM cust_nb_src")
      es.sql("SELECT CAST(c_custkey AS BIGINT) AS k, " +
        "CAST(c_custkey AS BIGINT) AS delta FROM cust_nb_src " +
        "WHERE c_custkey % 3 = 0")
        .createOrReplaceTempView("nb_batch")
      es.sql("""MERGE INTO gqnb.cust USING nb_batch
        |ON cust.k = nb_batch.k
        |WHEN MATCHED THEN
        |  UPDATE SET cents = cust.cents + nb_batch.delta
        |WHEN NOT MATCHED BY SOURCE AND cust.cents < 100000 THEN
        |  DELETE
        |WHEN NOT MATCHED BY SOURCE THEN
        |  UPDATE SET status = 'stale'""".stripMargin)
      val t = graft.catalog.GraftSqlTable.handleFor(es, s"$wh/cust")
      require(t.version == 2,
        s"NMBS MERGE must be ONE commit, got v${t.version}")
      val out = es.sql("SELECT k, part, name, cents, status " +
        "FROM gqnb.cust ORDER BY k").transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    },

    // ---- SQL clone surface (round 15): the reference's headline
    //      operation behind CALL — a version-pinned zero-copy table
    //      clone (hard links + manifest metadata, the clone starts
    //      its own history) and the all-or-nothing namespace clone
    //      (every table, one pending/ok-marker transaction). Lifecycle
    //      independence is proven BY the hash: the source is mutated
    //      AFTER the clones, and the oracle expects the clones'
    //      pre-mutation content — a clone that shared live state with
    //      its source would flip it.
    QueryDef.checked(
      "q_snapshot_sql_clone",
      """WITH nat AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    CAST(n_regionkey AS VARCHAR) AS part,
        |    CAST(n_nationkey * 2 AS BIGINT) AS v
        |  FROM nation
        |), reg AS (
        |  SELECT CAST(r_regionkey AS BIGINT) AS k,
        |    CAST(r_regionkey % 2 AS VARCHAR) AS part,
        |    CAST(r_regionkey * 7 AS BIGINT) AS v
        |  FROM region
        |)
        |SELECT 'a_v1' AS src, k, v FROM nat
        |UNION ALL SELECT 'ns2_a', k, v FROM nat
        |UNION ALL SELECT 'ns2_a', k + 100, v + 1 FROM nat
        |UNION ALL SELECT 'ns2_b', k, v FROM reg
        |ORDER BY src, k""".stripMargin) { (spark, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft_sqcl_").toString
      register(spark, "gqcl", wh)
      spark.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_cl_src")
      spark.read.parquet(s"$dir/region.parquet")
        .createOrReplaceTempView("region_cl_src")
      spark.sql("CREATE TABLE gqcl.ns1.a (k BIGINT, part STRING, " +
        "v BIGINT) PARTITIONED BY (part)")
      spark.sql("CREATE TABLE gqcl.ns1.b (k BIGINT, part STRING, " +
        "v BIGINT) PARTITIONED BY (part)")
      spark.sql("INSERT INTO gqcl.ns1.a SELECT " +
        "CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS STRING), " +
        "CAST(n_nationkey * 2 AS BIGINT) FROM nation_cl_src") // a@v1
      spark.sql("INSERT INTO gqcl.ns1.a SELECT " +
        "CAST(n_nationkey + 100 AS BIGINT), " +
        "CAST(n_regionkey AS STRING), " +
        "CAST(n_nationkey * 2 + 1 AS BIGINT) FROM nation_cl_src") // a@v2
      spark.sql("INSERT INTO gqcl.ns1.b SELECT " +
        "CAST(r_regionkey AS BIGINT), " +
        "CAST(r_regionkey % 2 AS STRING), " +
        "CAST(r_regionkey * 7 AS BIGINT) FROM region_cl_src") // b@v1
      // version-pinned single-table clone into a SIBLING namespace
      val cv = spark.sql("CALL gqcl.system.clone(" +
        "table => 'ns1.a', target => 'nsv.a_v1', version => 1)")
        .head().getInt(1)
      require(cv == 1, s"clone pinned the wrong version: $cv")
      // all-or-nothing namespace clone at current versions
      val members = spark.sql("CALL gqcl.system.clone_namespace(" +
        "source_ns => 'ns1', target_ns => 'ns2')").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      require(members == Seq(("a", 2), ("b", 1)),
        s"namespace clone members wrong: $members")
      require(graft.sources.SnapshotLog
        .namespaceCloneMembers(spark, s"$wh/ns2").size == 2,
        "namespace clone marker missing")
      // lifecycle independence: mutate the SOURCE after the clones —
      // the oracle expects the clones' pre-mutation content
      spark.sql("DELETE FROM gqcl.ns1.a WHERE k >= 0")
      val out = spark.sql("""SELECT 'a_v1' AS src, k, v FROM gqcl.nsv.a_v1
        |UNION ALL SELECT 'ns2_a', k, v FROM gqcl.ns2.a
        |UNION ALL SELECT 'ns2_b', k, v FROM gqcl.ns2.b
        |ORDER BY src, k""".stripMargin).transform(localCheckpoint)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(wh))
      out
    }
  )
}
