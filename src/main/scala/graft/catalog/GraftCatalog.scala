package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.catalog.NamespaceChange
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{KeyRange, SnapshotLog}

/** SQL-addressable snapshot tables: a DSv2 [[TableCatalog]] that
  * exposes [[SnapshotLog.Table]]s to the full SQL front end —
  *
  * {{{
  *   SET spark.sql.catalog.graft = graft.catalog.GraftCatalog
  *   SET spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   CREATE TABLE graft.events (k BIGINT, part STRING, v BIGINT)
  *     PARTITIONED BY (part)
  *   INSERT INTO graft.events SELECT ...
  *   SELECT * FROM graft.events VERSION AS OF 3 WHERE k = 42
  *   ALTER TABLE graft.events RENAME COLUMN v TO val
  * }}}
  *
  * This is the seam production Delta/Iceberg users touch first; until
  * this class existed the storage layer (time travel, column mapping,
  * zone-map/bloom pruning, MOR deletes) was Scala-API-only.
  *
  * Design, Spark-first:
  *  - READS delegate to the table's manifest-pruned read
  *    ([[SnapshotLog.Table.asOfMor]], which plans through
  *    [[org.apache.spark.sql.graft.SnapshotFileIndex]]): the
  *    ScanBuilder accepts pushed filters + required columns and
  *    replays them INSIDE that DataFrame, so a SQL `WHERE day = x`
  *    prunes files through the same zone maps and bloom sidecars as
  *    the Scala path — plan parity, spec-pinned (FileIndexSpec). The
  *    scan surfaces through [[V1Scan]] (the public DSv2→DataFrame
  *    bridge, `needConversion = false`, so rows flow as InternalRow
  *    with no per-row conversion).
  *  - Every pushed filter is ALSO re-evaluated by Spark above the
  *    scan (pushFilters returns all of them as residual): pruning is
  *    file-level and conservative, row-level truth stays with Spark.
  *  - WRITES route to the commit protocol: INSERT INTO →
  *    [[SnapshotLog.Table.commitAppend]], INSERT OVERWRITE /
  *    TRUNCATE → [[SnapshotLog.Table.commitOverwrite]] — same CAS,
  *    same stats/bloom sidecars, same change feed as the Scala API.
  *  - DDL routes to the metadata commits: ALTER TABLE RENAME COLUMN →
  *    [[SnapshotLog.Table.renameColumn]] (a colmap entry, zero data
  *    bytes), DROP COLUMN → dropColumn.
  *  - TIME TRAVEL: `VERSION AS OF v` / `TIMESTAMP AS OF ts` arrive as
  *    `loadTable(ident, version|micros)` and pin the returned table.
  *
  * Identifier → layout: `catalog.ns1.ns2.t` lives at
  * `<warehouse>/ns1/ns2/t`; the warehouse is re-read from the live
  * session conf on every resolution (not just at initialize), so one
  * registered catalog serves many fixture roots across a session.
  *
  * Cf. reference `clone_databases.sh:870-1027` (`main`'s per-database
  * loop addresses tables by catalog name, never by path) — the SQL
  * catalog is how a user of the reference addresses the clone target.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var initOptions: Map[String, String] = Map.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options.asScala.toMap
  }

  override def name(): String = catalogName

  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark: SparkSession = SparkSession.active

  /** Warehouse root — live-conf first (catalog instances are cached
    * per session on first reference, but tests and fixtures point one
    * catalog name at many roots), initialize-time option as fallback. */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(initOptions.get("warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        s"spark.sql.catalog.$catalogName.warehouse is not set"))

  /** Identifier → path, with traversal hygiene: a backticked segment
    * carrying a separator or dot-dot (CREATE TABLE graft.`../../x`)
    * must never escape the warehouse root — dropTable recursively
    * deletes whatever this resolves to. Same contract
    * cloneNamespace enforces for member names. */
  private def rootFor(ident: Identifier): String = {
    val segs = (ident.namespace() :+ ident.name()).toSeq
    segs.foreach(s => require(GraftCatalog.validSegment(s),
      s"illegal identifier segment '$s' (empty, dot, or separator " +
        "segments would escape the warehouse root)"))
    (warehouse +: segs).mkString("/")
  }

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fsFor(p: Path) = p.getFileSystem(hconf)

  private def metaPath(root: String) = new Path(s"$root/_catalog.json")

  private def isTableDir(root: String): Boolean = {
    val fs = fsFor(new Path(root))
    fs.exists(metaPath(root)) || fs.exists(new Path(s"$root/log"))
  }

  // -- table metadata sidecar: see the companion (shared with the
  //    table_changes TVF) ----------------------------------------------

  private def writeMeta(root: String, meta: GraftCatalog.TableMeta)
      : Unit = GraftCatalog.writeMeta(hconf, root, meta)
  private def readMeta(root: String): Option[GraftCatalog.TableMeta] =
    GraftCatalog.readMeta(hconf, root)

  // -- TableCatalog ---------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsRoot = (warehouse +: namespace.toSeq).mkString("/")
    val p = new Path(nsRoot)
    val fs = fsFor(p)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTableDir(s"$nsRoot/$n"))
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(rootFor(ident))

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, None)

  /** `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft version must be an integer, got '$version'"))))

  /** `TIMESTAMP AS OF ts` — micros since epoch per the DSv2 contract,
    * resolved through the manifest's publish timestamps. */
  override def loadTable(ident: Identifier, micros: Long): Table = {
    val root = rootFor(ident)
    if (!isTableDir(root)) throw new NoSuchTableException(ident)
    val log = new SnapshotLog.Table(spark, root)
    loadAt(ident, Some(log.versionAsOfTimestamp(micros / 1000L)))
  }

  private def loadAt(ident: Identifier, version: Option[Int]): Table = {
    val root = rootFor(ident)
    if (!isTableDir(root)) throw new NoSuchTableException(ident)
    new GraftSqlTable(s"$catalogName.${ident.toString}", root,
      readMeta(root), version)
  }

  /** `CREATE TABLE … (id BIGINT GENERATED ALWAYS AS IDENTITY, …)` —
    * the Column[] overload is where the identity spec arrives (the
    * default StructType conversion drops it); values are ALWAYS
    * engine-assigned by [[SnapshotLog.Table.commitAppendIdentity]]
    * (contiguous past the manifest watermark), so only start=1/step=1
    * GENERATED ALWAYS is accepted — anything else misdescribes what
    * the allocator does, and lying about it would be worse than
    * refusing. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    val identity = columns.filter(_.identityColumnSpec() != null)
    require(identity.length <= 1,
      "graft tables support at most one identity column")
    identity.headOption.foreach { c =>
      val spec = c.identityColumnSpec()
      require(spec.getStart == 1 && spec.getStep == 1,
        s"graft identity columns number 1,2,3,… (START WITH 1 " +
          s"INCREMENT BY 1); got start=${spec.getStart} " +
          s"step=${spec.getStep}")
      require(!spec.isAllowExplicitInsert,
        "GENERATED BY DEFAULT is not supported — graft identity " +
          "values are always engine-assigned")
      require(c.dataType() == org.apache.spark.sql.types.LongType,
        s"identity column ${c.name()} must be BIGINT")
    }
    val fields = columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      val spec = c.identityColumnSpec()
      if (spec != null) {
        mb.putLong("identity.start", spec.getStart)
        mb.putLong("identity.step", spec.getStep)
        mb.putBoolean("identity.allowExplicitInsert",
          spec.isAllowExplicitInsert)
      }
      // CREATE-time DEFAULTs: the analyzer fills omitted columns from
      // the CURRENT_DEFAULT metadata, so every batch CARRIES the value
      // (distinct from ADD COLUMN … DEFAULT, whose era machinery
      // serves PRE-EXISTING rows) — the metadata keys are Spark's
      // ResolveDefaultColumns contract
      if (c.defaultValue() != null) {
        mb.putString("CURRENT_DEFAULT", c.defaultValue().getSql)
        mb.putString("EXISTS_DEFAULT", c.defaultValue().getSql)
      }
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(),
        c.nullable(), mb.build())
    }
    createTableImpl(ident, StructType(fields.toIndexedSeq), partitions,
      identity.headOption.map(_.name()))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table =
    createTableImpl(ident, schema, partitions, None)

  private def createTableImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform], identityCol: Option[String])
      : Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.length == 1 &&
      partitions(0).name() == "identity" &&
      partitions(0).references().length == 1,
      "graft tables need exactly one identity PARTITIONED BY column " +
        "(the snapshot layout is partition-dir-keyed)")
    val partCol = partitions(0).references()(0).fieldNames().mkString(".")
    require(schema.fieldNames.contains(partCol),
      s"partition column $partCol is not in the schema")
    require(schema(partCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"partition column $partCol must be STRING: partition values " +
        "are path segments, and every read declares the column STRING " +
        "(cast in queries for typed comparisons)")
    identityCol.foreach(ic => require(!ic.equalsIgnoreCase(partCol),
      "the partition column cannot be the identity column"))
    val root = rootFor(ident)
    fsFor(new Path(root)).mkdirs(new Path(root))
    writeMeta(root,
      GraftCatalog.TableMeta(schema.json, partCol, identityCol))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootFor(ident)
    if (!isTableDir(root)) throw new NoSuchTableException(ident)
    val log = new SnapshotLog.Table(spark, root)
    changes.foreach {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1,
          "graft supports top-level column renames only")
        val from = rc.fieldNames()(0)
        log.renameColumn(from, rc.newName())
        // keep the write path's sidecar keys current if one of THEM
        // was renamed (partition routing / identity assignment would
        // otherwise target the dead name)
        readMeta(root).foreach { m =>
          var m2 = m
          if (m.partCol == from) m2 = m2.copy(partCol = rc.newName())
          if (m.identityCol.contains(from))
            m2 = m2.copy(identityCol = Some(rc.newName()))
          if (m2 != m) writeMeta(root, m2)
        }
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length == 1,
          "graft supports top-level column drops only")
        require(!readMeta(root).exists(
          _.identityCol.contains(dc.fieldNames()(0))),
          s"cannot drop the identity column ${dc.fieldNames()(0)} — " +
            "the watermark allocator is keyed by it")
        log.dropColumn(dc.fieldNames()(0))
      case ut: TableChange.UpdateColumnType =>
        // ALTER TABLE ... ALTER COLUMN c TYPE t -> metadata-only type
        // widening (the commit validates the lossless lattice)
        require(ut.fieldNames().length == 1,
          "graft supports top-level column widenings only")
        log.widenColumn(ut.fieldNames()(0), ut.newDataType().sql)
      case ac: TableChange.AddColumn =>
        // ALTER TABLE ... ADD COLUMN c t DEFAULT v -> initial-default
        // evolution (pre-existing rows read the default). A default is
        // REQUIRED through this path: a plain additive column appears
        // by simply writing batches that carry it.
        require(ac.fieldNames().length == 1,
          "graft supports top-level column adds only")
        val dv = ac.defaultValue()
        if (dv == null) throw new UnsupportedOperationException(
          s"ADD COLUMN ${ac.fieldNames()(0)} needs a DEFAULT through " +
            "the graft catalog (plain additive columns appear by " +
            "writing batches that carry them)")
        val lit = dv.getValue
        require(lit != null,
          s"ADD COLUMN ${ac.fieldNames()(0)}: non-literal defaults " +
            "are not supported")
        log.addColumnDefault(ac.fieldNames()(0),
          ac.dataType().sql, String.valueOf(lit.value))
      case ac: TableChange.AddConstraint =>
        // ALTER TABLE … ADD CONSTRAINT c CHECK (expr) → the engine's
        // commit-time constraint (every write commit re-validates);
        // PK/FK/UNIQUE are informational promises this engine cannot
        // enforce at commit time, so they are refused rather than
        // recorded-and-ignored
        ac.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints
              .Check =>
            log.addConstraint(ck.name(), ck.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"graft enforces CHECK constraints only; got " +
              s"${other.toDDL()}")
        }
      case dcs: TableChange.DropConstraint =>
        if (!dcs.ifExists() ||
            log.activeConstraints.contains(dcs.name()))
          log.dropConstraint(dcs.name())
      case other => throw new UnsupportedOperationException(
        s"graft catalog does not support table change $other " +
          "(supported: RENAME/DROP COLUMN, ALTER COLUMN TYPE " +
          "widening, ADD COLUMN ... DEFAULT, ADD/DROP CONSTRAINT " +
          "... CHECK)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootFor(ident)
    if (!isTableDir(root)) return false
    fsFor(new Path(root)).delete(new Path(root), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    val from = new Path(rootFor(oldIdent))
    val to = new Path(rootFor(newIdent))
    val fs = fsFor(from)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // -- ProcedureCatalog: CALL graft.system.<proc>(...) ----------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under $catalogName.system " +
        s"(got ${ident.namespace().mkString(".")})")
    val cat = this
    GraftProcedures(ident.name(), new GraftProcedures.Context {
      private def identOf(tbl: String): Identifier = {
        val parts = tbl.split('.')
        Identifier.of(parts.init, parts.last)
      }
      override def resolve(tbl: String): SnapshotLog.Table = {
        val id = identOf(tbl)
        val root = rootFor(id)
        if (!isTableDir(root)) throw new NoSuchTableException(id)
        GraftSqlTable.handleFor(spark, root)
      }
      /** Zero-copy table clone behind `CALL graft.system.clone`:
        * hard-link the source's live state at `version` (default:
        * current) into a fresh table directory and carry the catalog
        * sidecar, so the clone is immediately SQL-addressable. The
        * data move is [[SnapshotLog.Table.commitCloneFrom]] — one
        * link syscall per live file, manifest-sized metadata,
        * independent lifecycles (either side's vacuum touches only
        * its own directory entries). */
      override def cloneTable(srcTbl: String, dstTbl: String,
          version: Int): Int = {
        val sid = identOf(srcTbl)
        val srcRoot = rootFor(sid)
        if (!isTableDir(srcRoot)) throw new NoSuchTableException(sid)
        val did = identOf(dstTbl)
        val dstRoot = rootFor(did)
        if (isTableDir(dstRoot))
          throw new TableAlreadyExistsException(did)
        val src = GraftSqlTable.handleFor(spark, srcRoot)
        val sv = if (version <= 0) src.version else version
        fsFor(new Path(dstRoot)).mkdirs(new Path(dstRoot))
        new SnapshotLog.Table(spark, dstRoot,
          bloomCols = src.bloomCols).commitCloneFrom(src, sv)
        readMeta(srcRoot).foreach(m => writeMeta(dstRoot, m))
        sv
      }
      /** All-or-nothing namespace clone behind
        * `CALL graft.system.clone_namespace`: every table of the
        * source namespace at its CURRENT version, through the
        * pending/ok-marker transaction of
        * [[SnapshotLog.cloneNamespace]] (a crash leaves the target
        * invisible and reclaimable, never half-cloned). */
      override def cloneNamespace(srcNs: String, dstNs: String)
          : Seq[(String, Int)] = {
        val srcSegs = srcNs.split('.').toSeq
        val dstSegs = dstNs.split('.').toSeq
        (srcSegs ++ dstSegs).foreach(s =>
          require(GraftCatalog.validSegment(s),
            s"illegal namespace segment '$s'"))
        val srcRoot = (warehouse +: srcSegs).mkString("/")
        val dstRoot = (warehouse +: dstSegs).mkString("/")
        val names = cat.listTables(srcSegs.toArray).map(_.name())
          .toSeq.sorted
        require(names.nonEmpty, s"namespace $srcNs has no tables")
        val members = names.map { n =>
          val t = GraftSqlTable.handleFor(spark, s"$srcRoot/$n")
          (n, t, t.version)
        }
        SnapshotLog.cloneNamespace(spark, dstRoot, members)
        names.foreach(n => readMeta(s"$srcRoot/$n")
          .foreach(m => writeMeta(s"$dstRoot/$n", m)))
        members.map { case (n, _, v) => (n, v) }
      }
    })
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // -- SupportsNamespaces (directories under the warehouse) -----------

  override def listNamespaces(): Array[Array[String]] = {
    val p = new Path(warehouse)
    val fs = fsFor(p)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => isTableDir(s"$warehouse/$n"))
      .map(Array(_))
  }

  /** Child namespaces at any depth — `rootFor` supports multi-level
    * identifiers, so SHOW NAMESPACES must recurse to match (a child
    * dir that is a table is a table, not a namespace). */
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val nsRoot = (warehouse +: namespace.toSeq).mkString("/")
    val p = new Path(nsRoot)
    val fs = fsFor(p)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => isTableDir(s"$nsRoot/$n"))
      .map(n => namespace :+ n)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fsFor(new Path(warehouse)).exists(
        new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fsFor(new Path(warehouse)).mkdirs(
      new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = fsFor(p)
    if (!fs.exists(p)) return false
    require(cascade || fs.listStatus(p).isEmpty,
      s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(p, true)
  }
}

private[graft] object GraftCatalog {
  /** Table sidecar: declared schema (before the first commit), the
    * partition column the write path routes on, and the
    * GENERATED-ALWAYS identity column if one was declared. */
  private[catalog] case class TableMeta(schemaJson: String,
      partCol: String, identityCol: Option[String] = None) {
    def schema: StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
  }

  private def metaPath(root: String) = new Path(s"$root/_catalog.json")

  private[catalog] def writeMeta(conf: org.apache.hadoop.conf.Configuration,
      root: String, meta: TableMeta): Unit = {
    val fs = metaPath(root).getFileSystem(conf)
    val out = fs.create(metaPath(root), true)
    // hand-rolled two-field JSON: schemaJson is already JSON, partCol
    // is a validated identifier (no escaping surface)
    val idField = meta.identityCol
      .map(c => s""","identity":"$c"""").getOrElse("")
    try out.write(
      s"""{"partCol":"${meta.partCol}"$idField,"schema":${
        meta.schemaJson}}""".getBytes("UTF-8"))
    finally out.close()
  }

  private[catalog] def readMeta(conf: org.apache.hadoop.conf.Configuration,
      root: String): Option[TableMeta] = {
    val fs = metaPath(root).getFileSystem(conf)
    if (!fs.exists(metaPath(root))) return None
    val in = fs.open(metaPath(root))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // real JSON parse (json4s rides Spark's classpath): the writer is
    // controlled, but a substring split would break the day a third
    // field lands — field order and additions must not matter
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    val pc = j \ "partCol" match {
      case JString(s) => s
      case other => throw new IllegalStateException(
        s"malformed ${metaPath(root)}: partCol = $other")
    }
    val idCol = j \ "identity" match {
      case JString(c) => Some(c)
      case _ => None
    }
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(j \ "schema"))
    Some(TableMeta(schemaJson, pc, idCol))
  }

  /** Identifier-segment hygiene shared by the catalog and the TVF:
    * a segment must not escape the warehouse root. */
  private[catalog] def validSegment(s: String): Boolean =
    s.nonEmpty && s != "." && s != ".." &&
      !s.contains("/") && !s.contains("\\")
}

private[graft] object GraftSqlTable {
  /** Handle cache so a query's many loadTable calls (analysis re-runs,
    * write-privilege loads) share one [[SnapshotLog.Table]] — and so
    * specs can reach the handle's prune instrumentation
    * ([[SnapshotLog.Table.lastScanPrune]]) for plan-parity asserts.
    * Safe to share: handles are stateless views over the log dir (the
    * fold cache is global and content-keyed). */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotLog.Table]()
  private[graft] def handleFor(spark: SparkSession,
      root: String): SnapshotLog.Table =
    handles.computeIfAbsent(root, r => new SnapshotLog.Table(spark, r))

  /** Before a MERGE lands rows: a rewrite writes under the log's
    * partition spec, which only an append declares, so a table no
    * append has written (MERGE right after CREATE TABLE) first takes
    * an empty append by its `_catalog.json` partition column. */
  private[catalog] def declarePartitioning(spark: SparkSession,
      root: String): Unit = {
    val t = handleFor(spark, root)
    if (t.partitionSpec(t.version).isEmpty && t.liveFiles(t.version).isEmpty)
      GraftCatalog.readMeta(spark.sparkContext.hadoopConfiguration, root)
        .foreach(m => t.commitAppend(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], m.schema), m.partCol))
  }
}

/** One resolved (optionally version-pinned) snapshot table. */
private[catalog] final class GraftSqlTable(tableName: String,
    root: String, meta: Option[GraftCatalog.TableMeta],
    pinned: Option[Int])
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def spark: SparkSession = SparkSession.active
  private[catalog] def rootPath: String = root
  private[catalog] def identityCol: Option[String] =
    meta.flatMap(_.identityCol)
  private[catalog] def log: SnapshotLog.Table =
    GraftSqlTable.handleFor(spark, root)

  /** The version this table reads at: the pin (`VERSION AS OF`) or
    * the tip at load time. */
  private[catalog] lazy val readVersion: Int =
    pinned.getOrElse(log.version)

  override def name(): String = tableName

  /** Live schema when the table has commits (reflects column mapping
    * and additive evolution AT the read version — exactly what
    * [[GraftScan]] serves); declared schema before the first commit.
    *
    * Field ORDER is pinned to the declared (CREATE TABLE) order:
    * the read surfaces the partition column LAST (parquet partition
    * discovery appends it), and a table whose column order flips
    * after the first commit breaks every positional INSERT (found by
    * CatalogSqlSpec — the second insert cast 'a' into a BIGINT).
    * Renamed fields keep their declared slot (matched through the
    * column mapping by PHYSICAL name — declared names at create ARE
    * the physical names); evolved (added) fields append after. */
  override def schema(): StructType = {
    val live =
      if (readVersion > 0 && log.liveFiles(readVersion).nonEmpty)
        Some(log.asOf(readVersion, partTypes = partTypes).schema)
      else None
    (live, meta) match {
      case (None, Some(m)) => m.schema
      case (None, None) => throw new IllegalStateException(
        s"$tableName has no commits and no declared schema")
      case (Some(s), None) => s
      case (Some(s), Some(m)) =>
        val logicalToPhys = log.columnMapping(readVersion)._1
        val declaredPos = m.schema.fieldNames.zipWithIndex.toMap
        // identity (and any other declared field metadata) re-attaches
        // by PHYSICAL name: the live scan's fields carry none, but the
        // analyzer needs it to keep enforcing GENERATED ALWAYS on
        // inserts after the first commit
        val declMeta = m.schema.fields.map(f => f.name -> f.metadata)
          .toMap
        StructType(s.fields.sortBy { f =>
          val phys = logicalToPhys.getOrElse(f.name, f.name)
          declaredPos.getOrElse(phys,
            declaredPos.size + s.fieldIndex(f.name))
        }.map { f =>
          val phys = logicalToPhys.getOrElse(f.name, f.name)
          declMeta.get(phys)
            .filterNot(_ == org.apache.spark.sql.types.Metadata.empty)
            .map(md => f.copy(metadata = md)).getOrElse(f)
        })
    }
  }

  /** The declared partition column, handed to every read as a
    * user-specified schema is handed to `spark.read`: a STRING column
    * whose values look numeric still reads as STRING (a log's `spec`
    * entry does the same; logs written before it need this). */
  private[catalog] def partTypes: StructType =
    StructType(meta.map(m => StructField(m.partCol, StringType)).toSeq)

  override def partitioning(): Array[Transform] =
    meta.map(m => Array(Expressions.identity(m.partCol)))
      .getOrElse(Array.empty)

  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> root,
      "format" -> "graft-snapshot").asJava

  /** Active CHECK constraints, surfaced for DESCRIBE and the
    * analyzer; enforcement itself lives in the commits. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    if (readVersion == 0) Array.empty
    else log.activeConstraints.toSeq.sortBy(_._1).map { case (n, ex) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(ex).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def toString: String = s"GraftSqlTable($tableName)"

  // -- read path ------------------------------------------------------

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(this)

  override def truncateTable(): Boolean = {
    log.commitOverwrite(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[Row], schema()),
      partColOrFail)
    true
  }

  // -- SQL DELETE -----------------------------------------------------

  /** `DELETE FROM t WHERE ...` routed to the commit primitives that
    * match the predicate's shape — the same cost model the Scala API
    * exposes, now behind SQL:
    *  - `part = 'x'` / `part IN ('x','y')` (the partition column) →
    *    metadata-only [[SnapshotLog.Table.commitDeletePartitions]]:
    *    zero bytes move, one atomic commit;
    *  - `k IN (…)` / `key = 'str'` / `key IN (…)` on a NON-partition
    *    column → [[SnapshotLog.Table.commitDeleteKeysMor]]: deletion-
    *    vector tombstones over zone-map + bloom-pruned candidates —
    *    O(victims), zero file rewrites (the round-13 verdict's top
    *    remainder);
    *  - a conjunction of comparisons on ONE integer-family column →
    *    zone-map-pruned COW [[SnapshotLog.Table.commitDeleteRange]]:
    *    the blast radius is the candidate file set;
    *  - a PROVABLY-EMPTY predicate (`k > Long.MaxValue`,
    *    `k > 5 AND k < 3`) → zero rows, no commit (overflow must
    *    never wrap into delete-everything);
    *  - no predicate (DELETE FROM t) → [[truncateTable]];
    *  - anything else → canDeleteWhere = false, so the analyzer fails
    *    LOUDLY instead of silently rewriting the table.
    * Planner-injected `IsNotNull(c)` riding alongside a real
    * predicate on `c` is stripped (it is vacuous there); a BARE
    * `WHERE c IS NOT NULL` is kept and refused loudly — stripping it
    * would route to truncate and destroy NULL-keyed rows. */
  private def deletePlan(filters: Array[Filter])
      : Option[() => Unit] = {
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def keysDf(c: String, vs: Seq[Any],
        dt: org.apache.spark.sql.types.DataType): DataFrame =
      spark.createDataFrame(
        vs.map(Row(_)).asJava,
        StructType(Seq(org.apache.spark.sql.types.StructField(c, dt))))
    def morKeyDelete(a: String, vs0: Seq[Any]): Option[() => Unit] = {
      val vs = vs0.filterNot(_ == null) // NULL never matches IN/=
      if (vs.isEmpty) Some(() => ())
      else if (vs.forall(asLong(_).isDefined)) Some { () =>
        log.commitDeleteKeysMor(keysDf(a,
          vs.map(v => java.lang.Long.valueOf(asLong(v).get)),
          org.apache.spark.sql.types.LongType), a); ()
      }
      else if (vs.forall(_.isInstanceOf[String])) Some { () =>
        log.commitDeleteKeysMor(
          keysDf(a, vs, org.apache.spark.sql.types.StringType), a); ()
      }
      else None
    }
    // strip planner-injected IsNotNull(c) only when another filter
    // also constrains c; a bare IS NOT NULL stays (and is refused)
    val constrained = filters.flatMap {
      case _: IsNotNull => Array.empty[String]
      case f => f.references
    }.toSet
    val effective = filters.filterNot {
      case IsNotNull(a) => constrained.contains(a)
      case _ => false
    }
    effective match {
      case Array() | Array(_: AlwaysTrue) =>
        Some(() => { truncateTable(); () })
      case Array(EqualTo(a, v: String))
          if meta.exists(_.partCol == a) =>
        Some(() => { log.commitDeletePartition(a, v); () })
      case Array(In(a, vs)) if meta.exists(_.partCol == a) &&
          vs.forall(v => v == null || v.isInstanceOf[String]) =>
        val vals = vs.toSeq.filterNot(_ == null).map(_.asInstanceOf[String])
        Some(() =>
          { if (vals.nonEmpty) log.commitDeletePartitions(a, vals); () })
      case Array(EqualTo(a, v: String)) => morKeyDelete(a, Seq(v))
      case Array(In(a, vs)) => morKeyDelete(a, vs.toIndexedSeq)
      case fs if fs.nonEmpty =>
        // conjunction of bounds on a single integer-family column
        def cmp(a: String, op: String, v: Any) =
          asLong(v).map(KeyRange.Longs.cmp(a, op, _))
        val ranges = fs.toSeq.map {
          case EqualTo(a, v) => cmp(a, "=", v)
          case GreaterThan(a, v) => cmp(a, ">", v)
          case GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
          case LessThan(a, v) => cmp(a, "<", v)
          case LessThanOrEqual(a, v) => cmp(a, "<=", v)
          case _ => None
        }
        if (ranges.exists(_.isEmpty) ||
            ranges.flatten.map(_.col).distinct.length != 1) None
        else {
          val range = ranges.flatten.reduce(_ intersect _)
          if (range.isEmpty) Some(() => ()) // provably zero rows
          else Some(() => { log.commitDeleteRange(range); () })
        }
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    deletePlan(filters).getOrElse(throw new UnsupportedOperationException(
      s"unsupported DELETE predicate shape: ${filters.mkString(", ")}"))
      .apply()

  // -- write path -----------------------------------------------------

  private[catalog] def partColOrFail: String =
    meta.map(_.partCol).getOrElse(throw new IllegalStateException(
      s"$tableName was created outside the catalog (no _catalog.json)" +
        " — writes need the partition column; CREATE the table via " +
        "SQL or add the sidecar"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info)
}

/** Filter + column pushdown, replayed inside the manifest-pruned
  * DataFrame. `pushFilters` keeps every filter as residual (Spark
  * re-evaluates rows above the scan — pruning is file-level), and
  * reports the translatable subset as pushed so EXPLAIN shows them. */
private[catalog] final class GraftScanBuilder(table: GraftSqlTable)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScan.toColumn(_).isDefined)
    filters // all residual: row-level truth stays with Spark
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan =
    new GraftScan(table, pushed,
      required.getOrElse(table.schema()))
}

private[catalog] object GraftScan {
  /** v1 Filter → Column, for replaying pushed predicates inside the
    * pruned scan (where Catalyst pushes them through to
    * [[org.apache.spark.sql.graft.SnapshotFileIndex.listFiles]]).
    * Untranslatable shapes return None and simply don't prune —
    * row-level evaluation above the scan keeps them correct. */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case EqualNullSafe(a, v)      => Some(col(a) <=> v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c)                   => toColumn(c).map(!_)
    case _: AlwaysTrue            => Some(org.apache.spark.sql.functions.lit(true))
    case _: AlwaysFalse           => Some(org.apache.spark.sql.functions.lit(false))
    case _                        => None
  }
}

/** The scan: builds the SAME DataFrame the Scala API would
  * (`asOfMor(readVersion)` + pushed filters + required projection)
  * and hands its execution to Spark through [[V1Scan]].
  * `needConversion = false` → rows flow as InternalRow straight from
  * the parquet reader (no per-row external-Row conversion). */
private[catalog] final class GraftScan(table: GraftSqlTable,
    pushed: Array[Filter], required: StructType) extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftScan(${table.name()}, v=${table.readVersion}, " +
      s"pushed=[${pushed.mkString(", ")}])"

  private def prunedFrame(spark: SparkSession): DataFrame = {
    val v = table.readVersion
    // asOfMor, NOT asOf: the raw read does not apply active deletion
    // vectors, and SQL serving MOR-deleted rows back is a silent
    // correctness hole (caught by the round-13 interplay probe). With
    // no active DVs asOfMor IS asOf — zero overhead on the common path.
    val base =
      if (v == 0 || table.log.liveFiles(v).isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], table.schema())
      else table.log.asOfMor(v, table.partTypes)
    val filtered = pushed.flatMap(GraftScan.toColumn)
      .foldLeft(base)(_.filter(_))
    // project to the pruned schema IN ITS ORDER (the V1 relation's
    // row layout must match readSchema exactly)
    filtered.select(required.fieldNames.toIndexedSeq.map(col): _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      // InternalRow passthrough: the contract for needConversion=false
      // is an RDD of InternalRow typed as RDD[Row]
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        prunedFrame(context.sparkSession).queryExecution.toRdd
          .asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]

  /** `spark.readStream.table("catalog.t")` — the APPEND-TABLE stream
    * (Delta's default table-streaming contract): offsets are commit
    * versions, each micro-batch carries exactly the rows INSERTED by
    * commits (start, end], and a window containing any non-insert
    * change (a delete, a COW rewrite, a compaction) FAILS the stream
    * loudly naming the CDF source as the change-consumption path — a
    * silent skip would lose retractions, and re-emitting rewrite adds
    * would duplicate rows (the exact caveat Delta's ignoreChanges
    * documents; we refuse instead of footgunning). Planning and file
    * reading are the CDF machinery verbatim; this scan only projects
    * the feed's layout to the required table columns. */
  override def toMicroBatchStream(ckpt: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val full = table.schema()
    val pc = table.partColOrFail
    val dataDdl = StructType(full.filterNot(_.name == pc)).toDDL
    new GraftTableStream(table.rootPath, pc, dataDdl, required)
  }
}

/** The table-stream wrapper: CDF offsets/planning/readers underneath,
  * insert-only admission + a projection to the scan's readSchema on
  * top. */
private[catalog] final class GraftTableStream(root: String,
    partCol: String, dataDdl: String, required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read.InputPartition

  private val inner =
    new graft.sources.SnapshotCdfStream(root, partCol, dataDdl)

  override def initialOffset(): Offset = inner.initialOffset()
  override def latestOffset(): Offset = inner.latestOffset()
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val parts = inner.planInputPartitions(start, end)
    parts.foreach {
      case p: graft.sources.CdfPart if p.change != "insert" =>
        throw new UnsupportedOperationException(
          s"table stream over $root hit a '${p.change}' change at " +
            s"version ${p.version}: readStream.table streams APPENDS " +
            "only — consume deletes/rewrites through the CDF source " +
            "(graft.sources.SnapshotCdfSource)")
      case _ => ()
    }
    parts
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val spark = SparkSession.active
    val t = GraftSqlTable.handleFor(spark, root)
    val fileSchema = StructType.fromDDL(dataDdl)
    val nm = t.columnMapping(t.version)._1
    val pcPhys = nm.getOrElse(partCol, partCol)
    // CdfReader emits (fileSchema fields..., partValue, _version,
    // _change); project to the required table columns by position
    val positions = required.fields.map(f =>
      if (f.name == partCol) fileSchema.length
      else fileSchema.fieldIndex(f.name))
    new GraftTableStreamFactory(fileSchema, pcPhys,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration),
      nm, positions, required)
  }
}

/** Top-level factory (an anonymous one would capture a
  * non-serializable $outer chain — the CdfReaderFactory lesson). */
private[catalog] final class GraftTableStreamFactory(
    fileSchema: StructType, partCol: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    nameMap: Map[String, String], positions: Array[Int],
    required: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read
        .PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val innerR = new graft.sources.CdfReader(
      p.asInstanceOf[graft.sources.CdfPart], fileSchema, partCol,
      conf.value, nameMap)
    new org.apache.spark.sql.connector.read
        .PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      override def next(): Boolean = innerR.next()
      override def get(): org.apache.spark.sql.catalyst.InternalRow = {
        val r = innerR.get()
        val vals = new Array[Any](positions.length)
        var i = 0
        while (i < positions.length) {
          vals(i) = r.get(positions(i), required.fields(i).dataType)
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vals)
      }
      override def close(): Unit = innerR.close()
    }
  }
}

/** INSERT INTO → commitAppend; INSERT OVERWRITE (arrives as
  * truncate-then-insert on the V1 path) → one atomic
  * [[SnapshotLog.Table.commitOverwrite]]; `writeStream.toTable` →
  * [[GraftStreamingWrite]] (per-epoch adopted files with the
  * (queryId, epochId) txn marker — exactly-once across restarts). */
private[catalog] final class GraftWriteBuilder(table: GraftSqlTable,
    info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ow: Boolean): Unit = {
          val pc = table.partColOrFail
          table.identityCol match {
            case Some(id) =>
              if (overwrite || ow)
                throw new UnsupportedOperationException(
                  s"INSERT OVERWRITE into identity table " +
                    s"${table.name()} is not supported — identity " +
                    "values are never reassigned. Note that even " +
                    "after TRUNCATE, new inserts continue PAST the " +
                    "old watermark (ids are never reused — the " +
                    "watermark survives the truncate by design)")
              // the analyzer null-fills the omitted GENERATED ALWAYS
              // column; a non-null value means someone smuggled an
              // explicit id past analysis — refuse rather than
              // silently replace it
              val explicit = data.filter(col(id).isNotNull)
                .limit(1).count()
              if (explicit > 0) throw new IllegalArgumentException(
                s"identity column $id is GENERATED ALWAYS — explicit " +
                  "values are not accepted")
              // in-batch assignment order: the remaining columns,
              // name-sorted — deterministic for replay as long as the
              // batch itself is
              val orderKeys = data.columns.filterNot(c =>
                c.equalsIgnoreCase(id)).sorted.toIndexedSeq.map(col)
              table.log.commitAppendIdentity(data.drop(id), pc, id,
                orderKeys)
            case None =>
              if (overwrite || ow) table.log.commitOverwrite(data, pc)
              else table.log.commitAppend(data, pc)
          }
        }
      }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwrite,
        "graft streaming writes are APPEND-mode only (complete/" +
          "update modes would truncate the table every epoch)")
      require(table.identityCol.isEmpty,
        s"writeStream.toTable into identity table ${table.name()} " +
          "is not supported — identity assignment needs the driver-" +
          "side watermark commit; stream into a staging table and " +
          "MERGE, or use foreachBatch with commitAppendIdentity")
      new GraftStreamingWrite(table.rootPath, table.partColOrFail,
        info.schema(), info.queryId())
    }
  }
}
