package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.RoaringBitmap

/** Merge-on-read deletion vectors (DVs) of a snapshot table: the row
  * positions of one data file that a MOR delete or MOR merge removed,
  * while the file's bytes stay in place.
  *
  * A DV is a serialized `org.roaringbitmap.RoaringBitmap` of row
  * positions (`_metadata.row_index`, stable per immutable parquet
  * file) — the shape of Delta's deletion vectors (a RoaringBitmap,
  * stored inline in the log or in a file) and of Iceberg v3's
  * `deletion-vector-v1` blob. A `dv` log entry binds it to a file,
  * newest wins; a `remove` of the file retires it ([[Dv]] lists the
  * entry's forms). A bitmap that serializes to at most
  * [[InlineMaxBytes]] rides the entry itself; a larger one goes to a
  * sidecar `dv/<rel>.<id>.dv`. Sidecar ids are writer-unique
  * (`<version>-<uid>`), so a version-race loser can only leave an
  * orphan, never bytes under the winner's binding; ids make sidecars
  * immutable, so a read at an older version resolves the older DV.
  *
  * Readers apply DVs inside the scan ([[keepRows]]): a filter on
  * `_metadata.row_index` against the bitmap of the row's file, which
  * each task loads itself from a map broadcast from the log fold. No
  * read joins, shuffles, or reads a sidecar on the driver. Text
  * sidecars written before bitmaps (one decimal position per line)
  * still read through the same loader. */
object DeletionVectors {

  /** Serialized bitmap size, in bytes, at or under which a DV is
    * inlined in its `dv` entry (as base64) instead of a sidecar file.
    * 1 KiB holds about 500 scattered positions, or any number of
    * contiguous runs: the DVs of point deletes cost no file, while a
    * log line stays short. */
  val InlineMaxBytes = 1024

  /** Where a task finds one DV's positions. */
  sealed trait Loc extends Serializable
  final case class Inline(bytes: Array[Byte]) extends Loc
  final case class BitmapFile(path: String) extends Loc
  final case class TextFile(path: String) extends Loc

  /** One file's DV as its `dv` entry records it after the file's rel:
    *  - `rel|id`: a legacy text sidecar, one decimal position per line;
    *  - `rel|id|card|bytes`: a bitmap sidecar of `card` positions
    *    serialized in `bytes` bytes;
    *  - `rel|id|card|bytes|<base64>`: the same bitmap inline.
    * Text DVs carry no cardinality (`card` and `bytes` are -1). */
  final case class Dv(id: String, card: Long = -1L, bytes: Long = -1L,
      inline: Option[String] = None) {
    def isText: Boolean = card < 0
    /** Whether the DV has a sidecar file to link, delete or check. */
    def onDisk: Boolean = inline.isEmpty
    def render(rel: String): String =
      if (isText) s"$rel|$id"
      else (Seq(rel, id, card.toString, bytes.toString) ++ inline)
        .mkString("|")
    def entry(v: Int, rel: String): SnapshotLog.Entry =
      SnapshotLog.Entry(v, "dv", render(rel))
    def loc(root: String, rel: String): Loc = inline match {
      case Some(b64)     => Inline(Base64.getDecoder.decode(b64))
      case None if isText => TextFile(sidecar(root, rel, id))
      case None          => BitmapFile(sidecar(root, rel, id))
    }
  }

  /** (file rel, DV) of a `dv` entry's path. */
  def parse(p: String): (String, Dv) = p.split('|') match {
    case Array(rel, id)          => rel -> Dv(id)
    case Array(rel, id, c, b)    => rel -> Dv(id, c.toLong, b.toLong)
    case Array(rel, id, c, b, i) => rel -> Dv(id, c.toLong, b.toLong, Some(i))
    case _ => throw new IllegalArgumentException(s"malformed dv entry: $p")
  }

  /** The sidecar file of DV `id` of data file `rel`. */
  def sidecar(root: String, rel: String, id: String): String =
    s"$root/dv/$rel.$id.dv"

  /** The positions `loc` holds. `conf` is read only to open a file. */
  def load(loc: Loc, conf: => Configuration): RoaringBitmap = {
    val bm = new RoaringBitmap()
    def open(p: String) = {
      val path = new Path(p)
      path.getFileSystem(conf).open(path)
    }
    loc match {
      case Inline(b) => bm.deserialize(java.nio.ByteBuffer.wrap(b))
      case BitmapFile(p) =>
        val in = new DataInputStream(open(p))
        try bm.deserialize(in) finally in.close()
      case TextFile(p) =>
        val in = open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).foreach(l => bm.add(checked(l.toLong, p)))
        finally in.close()
    }
    bm
  }

  /** `pos` as a bitmap index: a single parquet file holding more than
    * 2^31 rows must fail loudly, not mis-filter. */
  private def checked(pos: Long, file: String): Int = {
    require(pos >= 0 && pos <= Int.MaxValue,
      s"DV position $pos exceeds Int range for file $file")
    pos.toInt
  }

  /** The log rel of a data file from its `_metadata.file_path`: the
    * last two segments (`part=val/file`) of the decoded URI, as
    * [[SnapshotLog.metadataRel]] cuts them. */
  private def relOf(filePath: String): String = {
    val p = new java.net.URI(filePath).getPath
    p.substring(p.lastIndexOf('/', p.lastIndexOf('/') - 1) + 1)
  }

  /** What a scan's DV filter reads from its broadcast: the DV of each
    * DV'd file, and the Hadoop conf when a sidecar must be opened. */
  private final case class Lookup(locs: Map[String, Loc],
      conf: Option[SerializableConfiguration])

  /** The keep-row test over (`_metadata.file_path`,
    * `_metadata.row_index`). It holds the bitmap of the file its task
    * read last: a task reads its files one after another, so each
    * task loads the bitmap of each of its files once. */
  private final class Keep(lookup: Broadcast[Lookup])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private var last: (String, RoaringBitmap) = _
    def apply(path: String, pos: Long): Boolean = {
      var l = last
      if (l == null || l._1 != path) {
        val lk = lookup.value
        l = (path, lk.locs.get(relOf(path))
          .map(load(_, lk.conf.get.value)).orNull)
        last = l
      }
      l._2 == null || pos > Int.MaxValue || !l._2.contains(pos.toInt)
    }
  }

  /** The scan filter that drops the rows `dvs` (file rel -> DV, of the
    * table at `root`) delete. It reads only the scan's own metadata
    * columns, so it must sit directly on a file relation, under any
    * union. */
  def keepRows(spark: SparkSession, root: String,
      dvs: Map[String, Dv]): Column = {
    val conf =
      if (!dvs.values.exists(_.onDisk)) None
      else Some(new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val lookup = spark.sparkContext.broadcast(Lookup(
      dvs.map { case (rel, dv) => rel -> dv.loc(root, rel) }, conf))
    udf(new Keep(lookup)).withName("dv_keep")(
      col("_metadata.file_path"), col("_metadata.row_index"))
  }

  private def serialize(bm: RoaringBitmap): Array[Byte] = {
    val buf = new ByteArrayOutputStream(bm.serializedSizeInBytes())
    val out = new DataOutputStream(buf)
    bm.serialize(out)
    out.close()
    buf.toByteArray
  }

  /** The DV writer task of a MOR delete or merge. `rows` are
    * (file rel, position) hits, hashed by file so each file's hits
    * meet in one task; each file's new bitmap is the union of its hits
    * and its `prior` DV (the newest-wins fold reads exactly one DV per
    * file). Small bitmaps inline; larger ones are written under
    * `dvRoot` as sidecar `<rel>.<dvId>.dv` through a temp file and a
    * rename (a retried task rewrites identical bytes). Returns each
    * file's rendered `dv` entry path. */
  def writeTask(dvRoot: String, dvId: String, prior: Map[String, Loc],
      conf: SerializableConfiguration)(rows: Iterator[Row]): Iterator[String] = {
    val hits = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
    rows.foreach { r =>
      val f = r.getString(0)
      hits.getOrElseUpdate(f, new RoaringBitmap()).add(checked(r.getLong(1), f))
    }
    hits.iterator.map { case (rel, bm) =>
      prior.get(rel).foreach(l => bm.or(load(l, conf.value)))
      bm.runOptimize()
      val bytes = serialize(bm)
      val dv = Dv(dvId, bm.getLongCardinality, bytes.length)
      if (bytes.length <= InlineMaxBytes)
        dv.copy(inline = Some(Base64.getEncoder.encodeToString(bytes)))
          .render(rel)
      else {
        val fs = new Path(dvRoot).getFileSystem(conf.value)
        val dst = new Path(s"$dvRoot/$rel.$dvId.dv")
        val tmp = new Path(s"$dvRoot/.tmp-${
          java.util.UUID.randomUUID.toString.take(12)}")
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        fs.mkdirs(dst.getParent) // rel carries the part=val subdir
        fs.delete(dst, false) // retried attempt: identical content
        require(fs.rename(tmp, dst), s"dv publish failed: $dst")
        dv.render(rel)
      }
    }
  }
}
