package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Streaming CHANGE-DATA-FEED source over a [[SnapshotLog]] table — a
  * DataSource V2 `MicroBatchStream` whose offset IS the commit version:
  * micro-batch (start, end] carries exactly the row-level changes of
  * commits start+1..end, each row tagged `_version` and `_change`
  * ("insert" for rows arriving in `add` files, "delete" for rows
  * leaving in `remove` files; a copy-on-write commit honestly surfaces
  * as deletes + reinserts, which nets to the row-level truth).
  *
  * Why this shape scales:
  *  - Offsets are DURABLE table versions, so checkpoint restart resumes
  *    mid-history with exactly-once delivery for free — the same
  *    property the file-stream source gets from file names, but with
  *    transactional commit granularity instead of directory listing.
  *  - planInputPartitions resolves (start, end] against the kilobyte
  *    manifest on the driver: one InputPartition per changed FILE, no
  *    directory walk, readers share nothing.
  *  - Vacuum interacts correctly: a consumer whose offset is older than
  *    the vacuum horizon fails loudly on the missing file instead of
  *    silently skipping history (retention must cover consumer lag —
  *    the operational contract every log-compacted feed has).
  *
  * Schema: file columns are declared via the `schema.ddl` option
  * (INT64/DOUBLE/BINARY-UTF8 parquet physical types), the partition
  * column (`partCol` option) is recovered from the `key=value` path
  * segment, and `_version` (LONG) + `_change` (STRING) are appended.
  * Addressing: `readStream.format("graft.sources.SnapshotCdfSource")
  * .option("path", tableRoot).option("partCol", ...)
  * .option("schema.ddl", "user_id LONG, cents LONG")`.
  */
class SnapshotCdfSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotCdfSource.fullSchema(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotCdfTable(properties.get("path"),
      properties.get("partCol"), properties.get("schema.ddl"),
      Option(properties.get("startingVersion")),
      Option(properties.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(properties.get("startingTimestamp")).map(_.toLong),
      Option(properties.get("endingVersion")).map(_.toInt),
      Option(properties.get("endingTimestamp")).map(_.toLong))
}

object SnapshotCdfSource {
  def fullSchema(options: CaseInsensitiveStringMap): StructType =
    fullSchema(options.get("partCol"), options.get("schema.ddl"))
  def fullSchema(partCol: String, ddl: String): StructType = {
    val fileCols = StructType.fromDDL(ddl)
    StructType(fileCols.fields.toSeq ++ Seq(
      StructField(partCol, StringType),
      StructField("_version", LongType),
      StructField("_change", StringType)))
  }
}

final class SnapshotCdfTable(root: String, partCol: String, ddl: String,
    startingVersion: Option[String] = None,
    maxVersionsPerTrigger: Option[Int] = None,
    startingTimestamp: Option[Long] = None,
    endingVersion: Option[Int] = None,
    endingTimestamp: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = s"snapshot_cdf($root)"
  override def schema(): StructType =
    SnapshotCdfSource.fullSchema(partCol, ddl)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = schema()
      override def toMicroBatchStream(ckpt: String): MicroBatchStream =
        new SnapshotCdfStream(root, partCol, ddl, startingVersion,
          maxVersionsPerTrigger, startingTimestamp)
      /** BATCH change read — `table_changes(from, to)`: the bounded
        * window (startingVersion, endingVersion] of the SAME
        * row-level feed the stream delivers (per-changed-file
        * partitions, DV-delta aware, layout-recovering readers —
        * one shared planner), for backfills and audits that want a
        * DataFrame, not a checkpointed query. `startingVersion`
        * keeps its streaming meaning (exclusive lower bound:
        * "changes AFTER v"); `endingVersion` defaults to the
        * table's current version (`endingTimestamp` resolves it by
        * wall time — the last commit at or before the instant);
        * `startingTimestamp` resolves the lower bound by wall time
        * as in streaming. */
      override def toBatch: Batch = {
        require(startingVersion.isEmpty || startingTimestamp.isEmpty,
          "startingVersion and startingTimestamp are mutually exclusive")
        val spark = org.apache.spark.sql.SparkSession.active
        val t = new SnapshotLog.Table(spark, root)
        val from = (startingVersion, startingTimestamp) match {
          case (None, None)           => 0
          case (Some("latest"), _)    => t.version
          case (Some(x), _)           => x.toInt
          case (None, Some(ts)) =>
            t.versionStartingAtTimestamp(ts).map(_ - 1)
              .getOrElse(t.version)
        }
        require(endingVersion.isEmpty || endingTimestamp.isEmpty,
          "endingVersion and endingTimestamp are mutually exclusive")
        // wall-time upper bound: the LAST commit published at or
        // before t — the same resolution AS-OF-TIMESTAMP reads use
        val to = endingVersion.orElse(
          endingTimestamp.map(t.versionAsOfTimestamp))
          .getOrElse(t.version)
        require(from <= to,
          s"empty/inverted change window ($from, $to]")
        val parts = SnapshotCdfStream.planWindow(t, root, from, to)
        val conf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val fileSchema = StructType.fromDDL(ddl)
        // column mapping: declared names are LOGICAL-at-`to`; files
        // speak physical (same resolution the stream factory does)
        val nm = t.columnMapping(to)._1
        val pc = nm.getOrElse(partCol, partCol)
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            parts
          override def createReaderFactory(): PartitionReaderFactory =
            // top-level class: an anonymous factory's $outer chain
            // would drag the (non-serializable) table into the task
            new CdfReaderFactory(fileSchema, pc, conf, nm)
        }
      }
    }
}

/** Offset = commit version, serialized as its decimal string. */
final case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

final class SnapshotCdfStream(root: String, partCol: String, ddl: String,
    startingVersion: Option[String] = None,
    maxVersionsPerTrigger: Option[Int] = None,
    startingTimestamp: Option[Long] = None)
    extends MicroBatchStream {
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive")
  private def spark = org.apache.spark.sql.SparkSession.active
  private def table = new SnapshotLog.Table(spark, root)

  /** Admission control base: the furthest offset this stream has
    * already PLANNED (or replayed from the checkpoint), so
    * `maxVersionsPerTrigger` can rate-limit a backlogged consumer to
    * that many COMMITS per micro-batch instead of swallowing all
    * history in one batch — the maxFilesPerTrigger of this source, and
    * what keeps an incremental consumer (e.g. streaming MV
    * maintenance) incremental on catch-up. Tracked at plan time, not
    * commit time: the engine may ask for the next latest offset before
    * it durably commits the previous batch, and a base that lags makes
    * the stream look caught-up and stop early. */
  @volatile private var rateBase: Option[Int] = None
  private def raiseBase(v: Int): Unit = synchronized {
    rateBase = Some(math.max(v, rateBase.getOrElse(v)))
  }

  /** A NEW consumer (no checkpoint) starts after `startingVersion`:
    * a number v means "deliver commits > v"; "latest" resolves the
    * table's current version ONCE here, so history is skipped and only
    * commits landing after stream start flow — the production CDF
    * default, and the knob that makes the vacuum-lag contract operable
    * (retention only has to cover consumer lag from the chosen start,
    * not the table's whole history). A checkpointed restart never
    * calls this — the durable offset wins, semantics unchanged.
    * `latest` is resolved ONCE and cached: latestOffset()'s rate-base
    * fallback re-enters here, and a re-resolved `latest` would return
    * the table's CURRENT version — swallowing every commit since
    * stream start in one batch, bypassing the per-trigger cap. */
  @volatile private var resolvedStart: Option[Int] = None
  override def initialOffset(): Offset = synchronized {
    val v = resolvedStart.getOrElse {
      val s = (startingVersion, startingTimestamp) match {
        case (None, None)           => 0
        case (Some("latest"), _)    => table.version
        case (Some(x), _)           => x.toInt
        // wall-time start: deliver from the FIRST commit published at
        // or after t (offsets are exclusive lower bounds, hence -1);
        // when every commit predates t, behave as `latest` — only
        // commits landing after subscription flow. Resolved ONCE and
        // cached, same contract as `latest`.
        case (None, Some(ts)) =>
          table.versionStartingAtTimestamp(ts)
            .map(_ - 1).getOrElse(table.version)
      }
      resolvedStart = Some(s)
      s
    }
    VersionOffset(v)
  }
  override def latestOffset(): Offset = {
    val v = table.version
    maxVersionsPerTrigger match {
      case None => VersionOffset(v)
      case Some(max) =>
        val base = rateBase.getOrElse(
          initialOffset().asInstanceOf[VersionOffset].v)
        val end = math.min(v, base + max)
        raiseBase(end) // this offset WILL be planned; never re-offer it
        VersionOffset(end)
    }
  }
  override def deserializeOffset(json: String): Offset = {
    val v = json.toInt
    // a checkpointed offset replayed at restart is a floor for the
    // rate-limit base — without this, latestOffset() could plan below
    // the resume point and stall a maxVersionsPerTrigger stream
    raiseBase(v)
    VersionOffset(v)
  }
  override def commit(end: Offset): Unit =
    raiseBase(end.asInstanceOf[VersionOffset].v)
  override def stop(): Unit = ()

  /** (start, end] resolved against the manifest. Merge-on-read aware:
    * a `dv` commit surfaces as DELETE rows for exactly the positions
    * NEWLY tombstoned (new DV minus the superseded one — a
    * superseding DV repeats prior positions by design, and repeating
    * them in the feed would double-delete); a `remove` of a file that
    * carried an active DV emits deletes only for its still-live rows
    * (the DV'd rows already left the feed when their DV committed), so
    * a materialization nets to exactly zero — the same net-zero
    * contract compaction has always had. */
  override def planInputPartitions(start: Offset, end: Offset):
      Array[InputPartition] =
    SnapshotCdfStream.planWindow(table, root,
      start.asInstanceOf[VersionOffset].v,
      end.asInstanceOf[VersionOffset].v)

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fileSchema = StructType.fromDDL(ddl)
    // column mapping, resolved ONCE at factory build: consumers
    // declare the LOGICAL (current) names; files speak physical
    val nm = table.columnMapping(table.version)._1
    val pc = nm.getOrElse(partCol, partCol)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new CdfReader(p.asInstanceOf[CdfPart], fileSchema, pc,
          conf.value, nm)
    }
  }
}

/** @param dvNew when set, this partition surfaces a DELETION-VECTOR
  *   commit: emit only rows whose position is in dvNew and
  *   NOT in dvOld (the newly tombstoned delta).
  * @param dvOld without dvNew: the file is being REMOVED while a DV
  *   was active — emit only rows outside dvOld (the still-live ones;
  *   the DV'd rows already left the feed). */
object SnapshotCdfStream {
  /** The change partitions of window (s, e]: one per changed FILE,
    * resolved against the manifest on the driver. Merge-on-read
    * aware: a `dv` commit surfaces only the NEWLY tombstoned
    * positions (new DV minus superseded — repeating prior
    * positions would double-delete), a `remove` of a DV-carrying
    * file emits only its still-live rows. Shared verbatim by the
    * streaming source's micro-batches and the bounded BATCH read. */
  private[graft] def planWindow(table: SnapshotLog.Table, root: String,
      s: Int, e: Int): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // one ordered fold tracks each file's ACTIVE DV so every
    // window emission knows its predecessor — O(log), driver-side
    val dvActive = scala.collection.mutable.Map.empty[String,
      DeletionVectors.Loc]
    table.entries.filter(_.version <= e).foreach { en =>
      val inWindow = en.version > s
      en.action match {
        case "add" =>
          if (inWindow)
            parts += CdfPart(s"$root/data/${en.path}", en.version, "insert")
        case "remove" =>
          val prior = dvActive.remove(en.path)
          if (inWindow)
            parts += CdfPart(s"$root/data/${en.path}", en.version,
              "delete", dvNew = None, dvOld = prior)
        case "dv" =>
          val (rel, dv) = DeletionVectors.parse(en.path)
          val loc = dv.loc(root, rel)
          if (inWindow)
            parts += CdfPart(s"$root/data/$rel", en.version, "delete",
              dvNew = Some(loc), dvOld = dvActive.get(rel))
          dvActive(rel) = loc
        case _ => ()
      }
    }
    parts.toArray
  }
}

/** Serializable, outer-free reader factory shared by the batch read
  * (the streaming path builds an equivalent one inline — its enclosing
  * stream is serializable, the batch scan's table is not). */
final class CdfReaderFactory(fileSchema: StructType, partCol: String,
    conf: SerializableConfiguration,
    nameMap: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition):
      PartitionReader[InternalRow] =
    new CdfReader(p.asInstanceOf[CdfPart], fileSchema, partCol,
      conf.value, nameMap)
}

final case class CdfPart(file: String, version: Int, change: String,
    dvNew: Option[DeletionVectors.Loc] = None,
    dvOld: Option[DeletionVectors.Loc] = None)
    extends InputPartition

/** Reads one parquet file via the parquet-hadoop Group API and emits
  * rows as (file columns..., partition value, _version, _change). The
  * example-Group reader is fine here because CDF partitions are
  * commit-sized; a bulk path would use the vectorized reader. Row
  * position = sequential read order, the same contract as
  * `_metadata.row_index`, so DV positions apply directly. */
/** @param nameMap declared (LOGICAL) column name -> PHYSICAL name in
  *   the files, resolved once at plan time from the table's column
  *   mapping — a renamed column's feed reads the physical bytes and
  *   surfaces them under the name the consumer declared (physical
  *   names never change, so one map serves files of every age);
  *   absent entries read under their own name. */
final class CdfReader(part: CdfPart, fileSchema: StructType,
    partCol: String, conf: Configuration,
    nameMap: Map[String, String] = Map.empty)
    extends PartitionReader[InternalRow] {
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(part.file))
      .withConf(conf).build()
  /** The partition value recovered from THIS FILE's own `key=value`
    * path segment. Layout-aware (partition evolution): a file written
    * under a DIFFERENT partition column — an old layout, after the
    * table's partition column evolved — yields null here, the same
    * missing-column contract the batch read's unionByName applies.
    * The row still carries its own layout's value as a data column
    * whenever the writer kept it (the partition-evolution writing
    * convention), so no information is lost; the feed just stops
    * dying on the first foreign-layout file. */
  private val partValue: UTF8String = {
    val seg = part.file.split('/').takeRight(2).head
    if (seg.startsWith(s"$partCol="))
      // unescape: the writer escapes %, :, /, = … into the path (the
      // same rules partition discovery reverses) — the feed must
      // surface the LOGICAL value, not its %XX encoding
      UTF8String.fromString(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(partCol.length + 1)))
    else null
  }
  private var cur: Group = _

  /** Whether the row at sequential position `i` belongs to this
    * partition's change set (see [[CdfPart]]). A position beyond Int
    * range can never be IN a DV (its writer refuses one), so the
    * membership tests are exact for all longs. */
  private val admit: Long => Boolean = {
    def load(l: DeletionVectors.Loc) = DeletionVectors.load(l, conf)
    def in(b: org.roaringbitmap.RoaringBitmap, i: Long): Boolean =
      i <= Int.MaxValue && b.contains(i.toInt)
    (part.dvNew, part.dvOld) match {
      case (None, None) => _ => true
      case (Some(nw), old) =>
        val n = load(nw)
        val o = old.map(load).getOrElse(new org.roaringbitmap.RoaringBitmap())
        i => in(n, i) && !in(o, i)
      case (None, Some(old)) =>
        val o = load(old)
        i => !in(o, i)
    }
  }

  private var pos = -1L
  override def next(): Boolean = {
    while ({ cur = reader.read(); pos += 1; cur != null }) {
      if (admit(pos)) return true
    }
    false
  }

  /** Which declared columns exist in THIS file's physical schema —
    * a file written under an older layout may lack a column entirely
    * (its own partition column, or a later-added field); those
    * null-fill, the same contract the batch read's unionByName
    * applies. Resolved lazily from the first row's group type —
    * together with each present column's PHYSICAL width: a widened
    * table's pre-widening files carry INT32/FLOAT under a LONG/DOUBLE
    * declared schema, and a width-blind getLong on an int32 field
    * throws (found by the round-13 widen×CDF interplay probe). The
    * upcast happens here, per file, exactly as the vectorized batch
    * reader upcasts under a declared wide schema. */
  private var present: Array[Boolean] = _
  private var physNarrow: Array[Boolean] = _ // INT32-under-LONG etc.

  override def get(): InternalRow = {
    if (present == null) {
      present = fileSchema.fields.map(f =>
        cur.getType.containsField(nameMap.getOrElse(f.name, f.name)))
      physNarrow = fileSchema.fields.zipWithIndex.map { case (f, i) =>
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        present(i) && {
          val ph = nameMap.getOrElse(f.name, f.name)
          val t = cur.getType.getType(ph)
          t.isPrimitive && ((f.dataType, t.asPrimitiveType()
            .getPrimitiveTypeName) match {
            case (LongType, INT32)   => true // widened int-family
            case (DoubleType, FLOAT) => true // widened float
            case (DoubleType, INT32) => true // int widened to double
            case (DoubleType, INT64) => false // lossy — not a widening
            case _                   => false
          })
        }
      }
    }
    val vals = new Array[Any](fileSchema.length + 3)
    fileSchema.fields.zipWithIndex.foreach { case (f, i) =>
      val ph = nameMap.getOrElse(f.name, f.name) // physical field name
      // parquet repetition: a missing (null) value has count 0
      if (!present(i) || cur.getFieldRepetitionCount(ph) == 0)
        vals(i) = null
      else vals(i) = f.dataType match {
        case LongType if physNarrow(i) => cur.getInteger(ph, 0).toLong
        case LongType    => cur.getLong(ph, 0)
        case IntegerType => cur.getInteger(ph, 0)
        case DoubleType if physNarrow(i) =>
          val t = cur.getType.getType(ph).asPrimitiveType()
            .getPrimitiveTypeName
          if (t == org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.FLOAT) cur.getFloat(ph, 0).toDouble
          else cur.getInteger(ph, 0).toDouble
        case DoubleType  => cur.getDouble(ph, 0)
        case StringType  => UTF8String.fromString(cur.getString(ph, 0))
        case dt => throw new IllegalArgumentException(
          s"unsupported CDF column type $dt for ${f.name}")
      }
    }
    vals(fileSchema.length) = partValue
    vals(fileSchema.length + 1) = part.version.toLong
    vals(fileSchema.length + 2) = UTF8String.fromString(part.change)
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}
