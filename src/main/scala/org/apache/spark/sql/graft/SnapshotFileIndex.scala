package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal,
  Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  GraftPartitioning, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed [[FileIndex]] for one layout group of a snapshot
  * table: `listFiles` receives the query's partition and data filters
  * AT PLAN TIME and answers with only the files whose zone maps (and,
  * for point predicates on indexed columns, bloom sidecars) can
  * contain a match — the move that turns the engine's file-skipping
  * machinery from opt-in helpers into AMBIENT behavior for any reader
  * predicate, exactly how production table formats (Delta's
  * TahoeFileIndex, Iceberg's scan planning) wire data skipping into
  * Spark's scan planning. Everything downstream is stock Spark: the
  * relation is a plain parquet `HadoopFsRelation`, so vectorized
  * reads, whole-stage codegen, footer-level predicate pushdown
  * (`PushedFilters`) and column pruning all apply to the files that
  * survive.
  *
  * Scale stance: planning cost is O(live files of the layout) driver
  * arithmetic over the kilobyte manifest (the zone maps arrive
  * pre-resolved from the log fold), never a directory listing or a
  * data read; bloom consults are bounded by `maxBloomKeys` point keys
  * and read one kilobyte-scale sidecar per range-surviving file. The
  * correctness stance is Delta's: pruning must be a SUPERSET of the
  * matching files — every unsupported predicate shape, missing stat,
  * or unparseable sidecar degrades to "keep", never to "drop".
  *
  * @param declaredPartitions partition columns whose type is declared
  *   (as a user-specified schema declares them to `spark.read`); the
  *   others are inferred from the directory values.
  * @param bloomProbe (files, col, point keys) => files whose sidecar
  *   admits any key; identity when the column carries no bloom index.
  *   A closure so the sidecar format stays private to the table.
  * @param recordPrune (survivors, candidates) telemetry sink, the
  *   read-path twin of `lastMergeScan` — lets queries and specs make
  *   "the scan opened fewer files than live" a checked invariant.
  */
final class SnapshotFileIndex(
    spark: SparkSession,
    dataDir: String,
    files: Seq[String],
    declaredPartitions: StructType,
    zoneL: Map[String, Map[String, (Long, Long)]],
    zoneS: Map[String, Map[String, (String, String)]],
    zoneN: Map[String, Map[String, (Long, Long)]],
    sizes: Map[String, Long],
    bloomCols: Set[String],
    bloomProbe: (Seq[String], String, Seq[Any]) => Seq[String],
    recordPrune: (Int, Int) => Unit) extends FileIndex {

  /** Point-key cap for a plan-time bloom consult — same bound as the
    * write path's merge probe: above it the range survivors stand. */
  private val maxBloomKeys = 1024

  override def rootPaths: Seq[Path] = Seq(new Path(dataDir))

  private def fs = new Path(dataDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Planning statuses from the MANIFEST: commits record each file's
    * byte length (`fsize` log entries), so the FileStatus set Spark's
    * split planning needs is pure log-fold arithmetic — zero
    * per-query filesystem calls for any file a current commit wrote
    * (Delta's add.size / Iceberg's file_size_in_bytes move), built by
    * [[ParquetFiles.statusOf]]. Statuses are made only for the files
    * that survive pruning. A file predating the entry type costs one
    * status call per index, remembered in [[statted]]. */
  private def statusOf(r: String): FileStatus =
    if (sizes.contains(r)) ParquetFiles.statusOf(fs, base, r, sizes.get(r))
    else statted.computeIfAbsent(r, _ =>
      ParquetFiles.statusOf(fs, base, r, None))

  private val statted =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private lazy val base = fs.makeQualified(new Path(dataDir))

  /** The directory of data file `rel` relative to the data dir. */
  private def dirOf(rel: String): String =
    rel.substring(0, math.max(0, rel.lastIndexOf('/')))

  /** Partition columns and each directory's values, from Spark's own
    * partition parser ([[GraftPartitioning]]) with `basePath` = the
    * data dir: a `spark.read.option("basePath", …)` read of the same
    * files sees the same columns, types and unescaped values (`%`,
    * `:`, `=`, … travel as %XX in the path). Files are grouped by
    * layout before the index is built, so every directory names the
    * same columns. Partition filters compare against these values,
    * and `listFiles` must apply them exactly. */
  private lazy val partitions: (StructType, Map[String, InternalRow]) = {
    val dirs = files.map(dirOf).distinct
    val paths = dirs.map(d => if (d.isEmpty) base else new Path(base, d))
    val spec = GraftPartitioning.parse(spark, paths, base, declaredPartitions)
    val byPath = spec.partitions.map(p => p.path -> p.values).toMap
    (spec.partitionColumns, dirs.zip(paths).map { case (d, p) =>
      d -> byPath.getOrElse(p, InternalRow.empty)
    }.toMap)
  }

  override def partitionSchema: StructType = partitions._1

  /** Literal widened into the INT64 zone-map domain of `dt` — the
    * exact widenings the write path records (DATE as epoch days,
    * TIMESTAMP/NTZ as micros, DECIMAL(p<=18) unscaled). None = this
    * literal can't be compared against the stats; no pruning. */
  private def asLong(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (_, null)                  => None
    case (LongType, x: Long)        => Some(x)
    case (IntegerType, x: Int)      => Some(x.toLong)
    case (ShortType, x: Short)      => Some(x.toLong)
    case (ByteType, x: Byte)        => Some(x.toLong)
    case (DateType, x: Int)         => Some(x.toLong)
    case (TimestampType, x: Long)   => Some(x)
    case (TimestampNTZType, x: Long) => Some(x)
    case (d: DecimalType, x: Decimal) if d.precision <= 18 =>
      Some(x.toUnscaledLong)
    case _ => None
  }

  private def asStr(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (StringType, u: UTF8String) => Some(u.toString)
    case _                           => None
  }

  /** One conjunct → one conservative file-set narrowing pass.
    * Inclusive bounds throughout (an exclusive bound is probed at its
    * literal — a superset, never a miss). Unsupported shapes are
    * identity. */
  private def prunePass(e: Expression): Seq[String] => Seq[String] =
    e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        point(a, Seq(l.value))
      case EqualTo(l: Literal, a: AttributeReference) =>
        point(a, Seq(l.value))
      case EqualNullSafe(a: AttributeReference, l: Literal)
          if l.value != null => point(a, Seq(l.value))
      case EqualNullSafe(l: Literal, a: AttributeReference)
          if l.value != null => point(a, Seq(l.value))
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        point(a, vs.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
        point(a, vs.toSeq)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        range(a, Some(l.value), None)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        range(a, Some(l.value), None)
      case LessThan(a: AttributeReference, l: Literal) =>
        range(a, None, Some(l.value))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        range(a, None, Some(l.value))
      // null stats: Spark injects IsNotNull into nearly every pushed
      // filter, so all-null files skip for free; IS NULL audits of a
      // sparse optional column open only the files that carry nulls
      case org.apache.spark.sql.catalyst.expressions
          .IsNotNull(a: AttributeReference) =>
        _.filter { f =>
          zoneN.get(f).flatMap(_.get(a.name)) match {
            case Some((nulls, rows)) => nulls < rows // any non-null?
            case None                => true
          }
        }
      case org.apache.spark.sql.catalyst.expressions
          .IsNull(a: AttributeReference) =>
        _.filter { f =>
          zoneN.get(f).flatMap(_.get(a.name)) match {
            case Some((nulls, _)) => nulls > 0
            case None             => true
          }
        }
      // literal-first comparisons flip the side
      case GreaterThan(l: Literal, a: AttributeReference) =>
        range(a, None, Some(l.value))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        range(a, None, Some(l.value))
      case LessThan(l: Literal, a: AttributeReference) =>
        range(a, Some(l.value), None)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        range(a, Some(l.value), None)
      case _ => identity
    }

  /** Equality/IN: zone-map range [min key, max key], then a bloom
    * membership pass when the column is indexed and the key set is
    * bounded — the same two-stage pruning the merge write path runs. */
  private def point(a: AttributeReference, keys: Seq[Any]):
      Seq[String] => Seq[String] = {
    val nonNull = keys.filter(_ != null)
    if (nonNull.isEmpty) return identity
    val ranged: Seq[String] => Seq[String] = a.dataType match {
      case StringType =>
        val ss = nonNull.flatMap(asStr(StringType, _))
        if (ss.size != nonNull.size) identity
        else strRange(a.name, Some(ss.min), Some(ss.max))
      case dt =>
        val ls = nonNull.flatMap(asLong(dt, _))
        if (ls.size != nonNull.size) identity
        else longRange(a.name, Some(ls.min), Some(ls.max))
    }
    if (bloomCols.contains(a.name) && nonNull.size <= maxBloomKeys)
      ranged.andThen(fs => bloomProbe(fs, a.name, nonNull))
    else ranged
  }

  private def range(a: AttributeReference, lo: Option[Any],
      hi: Option[Any]): Seq[String] => Seq[String] = a.dataType match {
    case StringType =>
      strRange(a.name, lo.flatMap(asStr(StringType, _)),
        hi.flatMap(asStr(StringType, _)))
    case dt =>
      longRange(a.name, lo.flatMap(asLong(dt, _)),
        hi.flatMap(asLong(dt, _)))
  }

  private def longRange(c: String, lo: Option[Long], hi: Option[Long]):
      Seq[String] => Seq[String] =
    if (lo.isEmpty && hi.isEmpty) identity
    else _.filter { f =>
      zoneL.get(f).flatMap(_.get(c)) match {
        case Some((mn, mx)) =>
          lo.forall(mx >= _) && hi.forall(mn <= _)
        case None => true // no stats recorded: keep conservatively
      }
    }

  private def strRange(c: String, lo: Option[String], hi: Option[String]):
      Seq[String] => Seq[String] =
    if (lo.isEmpty && hi.isEmpty) identity
    else _.filter { f =>
      zoneS.get(f).flatMap(_.get(c)) match {
        case Some((mn, mx)) =>
          lo.forall(mx >= _) && hi.forall(mn <= _)
        case None => true
      }
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition pruning first: it is EXACT and mandatory — Spark
    // removes partition filters from the post-scan residual, trusting
    // listFiles to have applied them (an unpruned foreign partition
    // would surface extra rows, not just extra I/O)
    val partPred = partitionFilters.reduceOption(And).map { e =>
      val bound = e.transform {
        case a: AttributeReference =>
          BoundReference(partitionSchema.fieldIndex(a.name),
            partitionSchema(partitionSchema.fieldIndex(a.name)).dataType,
            nullable = true)
      }
      val p = Predicate.createInterpreted(bound)
      p.initialize(0)
      p
    }
    val partSurvivors = files.filter(f =>
      partPred.forall(_.eval(partitions._2(dirOf(f)))))
    // data-filter skipping: each conjunct narrows independently
    // (conjunction = sequential passes); unsupported conjuncts are
    // identity, so the result is always a superset of matching files
    val survivors = dataFilters.map(prunePass)
      .foldLeft(partSurvivors)((fs, pass) => pass(fs))
    recordPrune(survivors.size, files.size)
    survivors.groupBy(dirOf).toSeq.sortBy(_._1).map { case (d, fsOfDir) =>
      PartitionDirectory(partitions._2(d), fsOfDir.sorted.map(statusOf).toArray)
    }
  }

  override def inputFiles: Array[String] =
    files.map(r => s"$dataDir/$r").toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long =
    files.map(r => sizes.getOrElse(r, statusOf(r).getLen)).sum
}
