package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.util.ThreadUtils

/** Parquet reads planned from metadata the engine already holds: a
  * file's `FileStatus` (from a snapshot manifest's `fsize` entries, an
  * adopt listing, or the one stat a caller took for file identity) and
  * its footer. Two things come out of it:
  *
  *  - [[relation]]: a parquet relation that starts no listing job and
  *    no schema-inference job. It is Spark's own `InMemoryFileIndex`
  *    over a `FileStatusCache` pre-filled with the given statuses, so
  *    `basePath` partition discovery (and its inferred partition types)
  *    is stock Spark; only the leaf listing is skipped. `spark.read
  *    .parquet(paths)` lists every path and, above 32 paths, does it in
  *    a Spark job; schema inference is a second job even for one file.
  *  - [[schema]], [[rowCount]], [[footers]]: driver-side reads of the
  *    footer through the decoder Spark's inference uses
  *    (`ParquetFileFormat.readSchemaFromFooter`).
  *
  * Footers are cached once per JVM, keyed on file identity (qualified
  * path, length, modification time): a rewritten file is a new key.
  * This is the engine's one footer cache; snapshot tables and
  * [[graft.Tables]] both read through it. Overflow clears it (a refill
  * is one small driver read per file). Delta takes its file list and
  * sizes from the transaction log for the same reason: the log is
  * cheaper to read than the store is to list. */
object ParquetFiles {

  private val MaxFooters = 4096
  private val footerCache =
    new ConcurrentHashMap[(String, Long, Long), ParquetMetadata]()

  private def key(st: FileStatus) =
    (st.getPath.toString, st.getLen, st.getModificationTime)

  /** A file's full footer, row groups included, through the cache.
    * Spark's own `readParquetFootersInParallel` skips the row groups
    * (it wants the schema only), so row counts and column statistics
    * need this read. */
  def footer(conf: Configuration, st: FileStatus): ParquetMetadata = {
    if (footerCache.size > MaxFooters) footerCache.clear()
    footerCache.computeIfAbsent(key(st), _ => readFooter(conf, st))
  }

  /** Full footers of files that are read once (clone verification),
    * in parallel on a bounded pool as `readParquetFootersInParallel`
    * does. Not cached: they would only evict the footers that
    * snapshot tables and [[graft.Tables]] keep reading. */
  def footers(conf: Configuration, sts: Seq[FileStatus])
      : Seq[ParquetMetadata] =
    if (sts.size <= 1) sts.map(readFooter(conf, _))
    else ThreadUtils.parmap(sts, "graft-parquet-footers", 8)(
      readFooter(conf, _))

  private def readFooter(conf: Configuration,
      st: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The status of data file `rel` under `base`, which the caller
    * qualifies once: per-file qualification dominates planning at
    * 10^5 files (measured ~1.8 s; ~0.3 s with the base resolved
    * once). Given a length the engine already holds (a manifest
    * `fsize` entry, an adopt listing), the status is built without a
    * call to the store; it carries modtime 0 and a 128 MB block, as
    * files are immutable and batch parquet planning uses only path
    * and length. Without one, it is one status call. */
  def statusOf(fs: FileSystem, base: Path, rel: String,
      len: Option[Long]): FileStatus = len match {
    case Some(n) =>
      new FileStatus(n, false, 1, 134217728L, 0L, new Path(base, rel))
    case None => fs.getFileStatus(new Path(base, rel))
  }

  def rowCount(footer: ParquetMetadata): Long = {
    import scala.jdk.CollectionConverters._
    footer.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** The Spark schema `spark.read.parquet(file).schema` infers for
    * this file: the serialized Spark schema a Spark-written footer
    * carries, else the parquet type converter under the session's
    * confs, made nullable throughout as file reads are. */
  def schema(spark: SparkSession, st: FileStatus): StructType =
    schemaOf(spark, st.getPath, footer(
      spark.sparkContext.hadoopConfiguration, st))

  def schemaOf(spark: SparkSession, path: Path,
      footer: ParquetMetadata): StructType =
    nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))

  /** `StructType.asNullable` (private to Spark): nested slots too. */
  private def nullable(s: StructType): StructType = {
    def relax(dt: DataType): DataType = dt match {
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(relax(et), containsNull = true)
      case MapType(kt, vt, _) =>
        MapType(relax(kt), relax(vt), valueContainsNull = true)
      case other => other
    }
    relax(s).asInstanceOf[StructType]
  }

  /** A parquet relation over `files`, whose paths must be fully
    * qualified, with no listing: the index's cache answers every root
    * path with its own status. With `basePath`, partition columns are
    * discovered from the directories between it and each file, with
    * inferred types, exactly as `spark.read.option("basePath", …)`
    * does. `dataSchema` is the file columns' schema, usually
    * [[schema]] of one file. A refresh of the index drops the
    * pre-filled statuses and lists for real. */
  def relation(spark: SparkSession, files: Seq[FileStatus],
      basePath: Option[String], dataSchema: StructType): DataFrame = {
    val cache = new FileStatusCache {
      @volatile private var known: Map[Path, Array[FileStatus]] =
        files.map(st => st.getPath -> Array(st)).toMap
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        known.get(path)
      override def putLeafFiles(path: Path,
          leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = known = Map.empty
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath),
      basePath.map("basePath" -> _).toMap, None, cache)
    SparkInternals.parquetRelation(spark, index, index.partitionSchema,
      dataSchema)
  }

  /** The parquet table at `root`, one file or a directory tree, as
    * `spark.read.parquet(root)` reads it but without the inference
    * job. The data schema is [[schema]] of the file that inference
    * reads when `mergeSchema` is off, picked in Spark's order: a
    * `_common_metadata` summary, else a `_metadata` summary, else the
    * first data file by path. A file root is planned from its one
    * stat. A directory root is listed by Spark's own index (a listing
    * job only above 32 directories, as for `spark.read`). None when
    * the root is missing or holds no data file, or when the session
    * merges parquet schemas; callers then read through `spark.read`
    * and get its errors and semantics. */
  def table(spark: SparkSession, root: String): Option[DataFrame] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
      return None
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) {
      st.setPath(fs.makeQualified(st.getPath))
      Some(relation(spark, Seq(st), None, schema(spark, st)))
    } else {
      val index = new InMemoryFileIndex(spark, Seq(st.getPath), Map.empty,
        None)
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      leaves.find(!isSummary(_)).map { firstData =>
        val schemaFile = named(CommonMetadata).orElse(named(Metadata))
          .getOrElse(firstData)
        SparkInternals.parquetRelation(spark, index, index.partitionSchema,
          schema(spark, schemaFile))
      }
    }
  }

  /** The files a read of `root` would scan, listed by Spark's index. */
  def dataFiles(spark: SparkSession, root: String): Seq[FileStatus] =
    new InMemoryFileIndex(spark, Seq(new Path(root)), Map.empty, None)
      .allFiles().filterNot(isSummary)

  private val Metadata = "_metadata"
  private val CommonMetadata = "_common_metadata"

  /** Summary files are listed with the data files but hold no rows. */
  private def isSummary(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n == Metadata || n == CommonMetadata
  }
}
