package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetFiles
import org.apache.spark.sql.types._

/** Namespace-clone pipeline — the Spark re-expression of the reference's
  * actual capability (clone_databases.sh: bulk copy of databases under a
  * name prefix, with validation, idempotency, backups, and verification;
  * see SURVEY.md §2A).
  *
  * Reference semantics → Spark mapping:
  *   - target namespace = prefix + source (clone_databases.sh:222,786)
  *     → identifier rewrite at write time;
  *   - skip-if-target-exists idempotency (clone_databases.sh:227-231,
  *     791-794) → existence probe before write;
  *   - optional pre-clone backup (clone_databases.sh:203-217,768-781)
  *     → snapshot write that must succeed before the clone proceeds;
  *   - post-clone verification probes (clone_databases.sh:480-551,
  *     920-941) → the footer of every written file: each file's schema
  *     equals the source's, and the footer row counts sum to the row
  *     count the copy observed;
  *   - per-run success accounting and summary (clone_databases.sh:
  *     1026-1103) → `Seq[CloneResult]` + report DataFrame.
  *
  * Scale stance: where `CREATE DATABASE … TEMPLATE` let the PG server
  * copy files internally (clone_databases.sh:246), Spark's equivalent is
  * a distributed scan→write per table: the copy parallelizes over file
  * splits, preserves the source's partitioning columns, and never moves
  * rows through the driver. Unlike the reference's strictly sequential
  * per-DB loop (clone_databases.sh:1029), independent tables are
  * submitted as concurrent Spark jobs.
  *
  * A parquet table clones in ONE Spark job, the copy itself: the
  * source is planned from its file statuses and the footer Spark's
  * inference would read (no inference job, see [[org.apache.spark.sql
  * .graft.ParquetFiles]]), the source row count is observed during the
  * copy, and verification reads footers on the driver.
  */
final case class CloneResult(
    table: String,
    target: String,
    status: String, // cloned | skipped_exists | failed
    rows: Long,
    schemaMatches: Boolean,
    backedUp: Boolean,
    error: String)

final class ClonePipeline(spark: SparkSession, config: CloneConfig) {

  import spark.implicits._

  private def targetPath(table: String): String =
    s"${config.targetDir}/${config.prefix}$table"

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Schema normalized for structure-only comparison: all nullability
    * flags (incl. nested) forced true and field METADATA stripped — a
    * JDBC source attaches metadata (scale, CHAR/VARCHAR type strings)
    * that a lossless parquet round trip does not preserve, and neither
    * difference is a data-loss condition. */
  private def relaxed(s: StructType): StructType = {
    def relax(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true,
          metadata = Metadata.empty)))
      case ArrayType(et, _)     => ArrayType(relax(et), containsNull = true)
      case MapType(kt, vt, _)   => MapType(relax(kt), relax(vt), valueContainsNull = true)
      case other                => other
    }
    relax(s).asInstanceOf[StructType]
  }

  /** Source reader, dispatching on the configured connector: path-based
    * formats read `sourceDir/table`; connector formats (JDBC/Mongo/
    * custom DSv2) read from options with the table name injected. A
    * plain parquet source is planned from its files' metadata, without
    * the listing and inference jobs of `spark.read`. */
  private def readSource(table: String): DataFrame = {
    val plainParquet = config.sourceFormat.equalsIgnoreCase("parquet") &&
      config.sourceOptions.isEmpty
    (if (plainParquet) ParquetFiles.table(spark, config.sourcePath(table))
     else None).getOrElse(
      if (config.pathBasedSource)
        spark.read.format(config.sourceFormat)
          .options(config.sourceOptions).load(config.sourcePath(table))
      else
        spark.read.format(config.sourceFormat)
          .options(config.sourceOptions + (config.tableOptionKey -> table))
          .load())
  }

  /** Connectivity probe — the `SELECT 1` / `ping` analogue
    * (clone_databases.sh:137-190): cheap read of one source table. */
  def testConnection(): Boolean =
    try { readSource(config.tables.head).limit(1).count() >= 0 }
    catch { case _: Throwable => false }

  /** Source-existence validation (clone_databases.sh:612-622): a file
    * existence check for path sources, a one-row read probe for
    * connector sources (the `listCollections limit 1` analogue,
    * clone_databases.sh:715-765). */
  def validateSource(table: String): Boolean =
    if (config.pathBasedSource) exists(config.sourcePath(table))
    else try { readSource(table).limit(1).count() >= 0 }
    catch { case _: Throwable => false }

  /** Advisory lock — the write-isolation analogue of the reference's
    * abort-if-active-connections guard (clone_databases.sh:625-708): a
    * `_graft_lock` marker under the target namespace; a concurrent writer
    * holding it makes the clone abort rather than interleave writes.
    * `FileSystem.createNewFile` is atomic on the target store. */
  private def lockPath = new org.apache.hadoop.fs.Path(
    s"${config.targetDir}/_graft_lock")

  /** False means "another writer holds the lock"; genuine I/O failures
    * (unwritable target, bad mount) propagate so they are not
    * misdiagnosed as contention. A lock older than [[CloneConfig.lockTtlMs]]
    * is considered abandoned (crashed writer — kill -9 skips the finally
    * release) and is broken before retrying once. */
  def acquireLock(): Boolean = {
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lockPath.getParent)
    if (fs.createNewFile(lockPath)) true
    else {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lockPath).getModificationTime
      if (age > config.lockTtlMs) {
        fs.delete(lockPath, false)
        fs.createNewFile(lockPath)
      } else false
    }
  }

  def releaseLock(): Unit = {
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lockPath, false)
    ()
  }

  /** Clone one table: validate → skip-if-exists → backup → copy → verify. */
  def cloneTable(table: String): CloneResult = {
    val tgt = targetPath(table)
    try {
      if (!validateSource(table))
        return CloneResult(table, tgt, "failed", 0L, schemaMatches = false,
          backedUp = false, s"source missing: ${config.sourcePath(table)}")

      if (!config.overwrite && exists(tgt))
        return CloneResult(table, tgt, "skipped_exists", 0L,
          schemaMatches = true, backedUp = false, "")

      val src = readSource(table)

      val backedUp = if (config.backupBeforeClone && exists(tgt)) {
        // pre-overwrite snapshot (clone_databases.sh:203-217): must
        // succeed before the clone may proceed
        // nanos suffix: two overwrite clones within one second must not
        // collide on the ErrorIfExists snapshot path
        val stamp = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now()) + "_" + System.nanoTime()
        spark.read.parquet(tgt).write.mode(SaveMode.ErrorIfExists)
          .parquet(s"${config.backupDir}/${config.prefix}${table}_$stamp")
        true
      } else false

      // the source row count is observed DURING the copy job (Observation
      // metric on the write) — no separate source scan; at 100 TB a
      // count-only re-pass over the source would be a full extra read
      val obs = org.apache.spark.sql.Observation(s"clone_$table")
      src.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode(if (config.overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
        .parquet(tgt)
      val srcN = obs.get("rows").asInstanceOf[Long]
      verify(table, src.schema, srcN).copy(backedUp = backedUp)
    } catch {
      case e: Throwable =>
        CloneResult(table, tgt, "failed", 0L, schemaMatches = false,
          backedUp = false, String.valueOf(e.getMessage))
    }
  }

  /** Post-clone verification (clone_databases.sh:480-551) from the
    * footer of every file under the table's target, read on the
    * driver: each file's schema must equal `sourceSchema`, and the
    * footer row counts must sum to `sourceRows`. Structure (names +
    * types) must match exactly; nullability and field metadata are
    * normalized — a connector source may declare NOT NULL fields that
    * parquet reads back as nullable, and that physical relaxation is
    * not a data-loss condition. Checking every file, not one, also
    * catches a stray part file or one written with another type. */
  def verify(table: String, sourceSchema: StructType,
      sourceRows: Long): CloneResult = {
    val tgt = targetPath(table)
    val files = ParquetFiles.dataFiles(spark, tgt)
    val footers = ParquetFiles.footers(
      spark.sparkContext.hadoopConfiguration, files)
    val want = relaxed(sourceSchema)
    val schemaOk = files.nonEmpty && files.zip(footers).forall {
      case (f, footer) =>
        relaxed(ParquetFiles.schemaOf(spark, f.getPath, footer)) == want
    }
    val n = footers.map(ParquetFiles.rowCount).sum
    if (!schemaOk || n != sourceRows)
      CloneResult(table, tgt, "failed", n, schemaOk, backedUp = false,
        s"verification mismatch: rows $n vs $sourceRows over " +
          s"${files.size} files, schema ok = $schemaOk")
    else CloneResult(table, tgt, "cloned", n, schemaMatches = true,
      backedUp = false, "")
  }

  /** Incremental (delta) clone: append only source rows with
    * `watermarkCol` strictly greater than `lastValue` to an existing
    * target — the CDC-style refresh a recurring clone job wants instead
    * of a full re-copy (at 100 TB a daily full clone is a full rescan;
    * a watermark append reads only the new partition slice, and with the
    * source partitioned on the watermark column the filter becomes
    * partition pruning). Returns rows appended. */
  def incrementalClone(table: String, watermarkCol: String,
      lastValue: java.sql.Timestamp): Long = {
    val tgt = targetPath(table)
    // same write-isolation contract as run(): never interleave with a
    // concurrent full clone of the namespace
    if (!acquireLock())
      throw new IllegalStateException(
        s"target namespace locked by another writer: $lockPath")
    try {
      // delta-append only makes sense on top of an existing full clone —
      // appending into a missing target would silently create a
      // delta-only table that a later run() then 'skipped_exists' forever
      if (!exists(tgt))
        throw new IllegalStateException(
          s"incremental clone requires an existing full clone at $tgt")
      val delta = readSource(table)
        .filter(org.apache.spark.sql.functions.col(watermarkCol) >
          org.apache.spark.sql.functions.lit(lastValue))
      val obs = org.apache.spark.sql.Observation(
        s"incr_${table}_${System.nanoTime()}")
      delta.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode(SaveMode.Append).parquet(tgt)
      obs.get("rows").asInstanceOf[Long]
    } finally releaseLock()
  }

  /** Clone all configured tables; independent tables run as concurrent
    * Spark jobs (scheduler interleaves stages across the cluster). The
    * whole run holds the target-namespace advisory lock — a concurrent
    * run aborts with per-table failures instead of interleaving writes
    * (mirrors clone_databases.sh:645: "abort and tell the operator"). */
  def run(): Seq[CloneResult] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val locked =
      try Right(acquireLock())
      catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
    locked match {
      case Left(err) =>
        return config.tables.map(t => CloneResult(t, targetPath(t), "failed",
          0L, schemaMatches = false, backedUp = false,
          s"lock acquisition I/O failure: $err"))
      case Right(false) =>
        return config.tables.map(t => CloneResult(t, targetPath(t), "failed",
          0L, schemaMatches = false, backedUp = false,
          s"target namespace locked by another writer: $lockPath"))
      case Right(true) => ()
    }
    try {
      val futures = config.tables.map(t => Future(cloneTable(t)))
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally releaseLock()
  }

  /** Run + summary report (create_credential_summary / main accounting,
    * clone_databases.sh:554-609,1094-1103). */
  def report(): DataFrame = {
    val results = run()
    val df = spark.createDataset(results).toDF()
    df.withColumn("run_success", lit(results.forall(_.status != "failed")))
  }
}

object ClonePipeline {
  def apply(spark: SparkSession, config: CloneConfig): ClonePipeline =
    new ClonePipeline(spark, config)
}
