package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions

/** A bounded key region of a snapshot table — the one predicate the
  * region-scoped operations of [[SnapshotLog.Table]] take
  * (`pruneFiles`, `commitDeleteRange`,
  * `commitReplaceWhere`, `commitUpdate`), in place of one method per
  * key type. Each case carries the two halves those operations need:
  *  - its MANIFEST prune ([[prune]]): the live files that can hold a
  *    row of the region, decided from the log alone — integer zone
  *    maps ([[KeyRange.Longs]]), truncation-safe string zone maps
  *    ([[KeyRange.Strings]]), epoch-day zone maps ([[KeyRange.Dates]];
  *    DATE footers are INT32 days, widened to long), or partition
  *    directory prefixes ([[KeyRange.Partitions]]; the layout is the
  *    index). A file with no recorded stat for the column is kept;
  *  - its inclusive ROW predicate ([[rows]]), built over a column name
  *    the operation picks: delete and replace evaluate over the raw
  *    PHYSICAL name (victims are read raw), update over the LOGICAL
  *    one. A NULL key is in no region.
  * `col` is the logical column name; the table maps it to the physical
  * one at the commit's snapshot. Bounds are inclusive, and a range with
  * lo > hi is empty. */
sealed trait KeyRange {
  def col: String

  /** `c` lies in the region (NULL for a NULL `c`, as SQL has it). */
  def rows(c: String): Column

  /** The files of `live` that can hold a row of the region, with the
    * column's stats keyed by its physical name `ph` in `fold`. */
  private[sources] def prune(live: Seq[String], ph: String,
      fold: SnapshotLog.FoldState): Seq[String]
}

object KeyRange {

  private def byZone[T](live: Seq[String],
      zm: Map[String, Map[String, (T, T)]], ph: String, lo: T, hi: T)
      (implicit ord: Ordering[T]): Seq[String] =
    live.filter(p => zm.get(p).flatMap(_.get(ph)).forall {
      case (mn, mx) => ord.gteq(mx, lo) && ord.lteq(mn, hi)
    })

  /** An integer-family range (LONG, INT, SHORT, BYTE keys). */
  final case class Longs(col: String, lo: Long, hi: Long) extends KeyRange {
    def isEmpty: Boolean = lo > hi
    def intersect(o: Longs): Longs =
      copy(lo = math.max(lo, o.lo), hi = math.min(hi, o.hi))
    def rows(c: String): Column = functions.col(c).between(lo, hi)
    private[sources] def prune(live: Seq[String], ph: String,
        fold: SnapshotLog.FoldState): Seq[String] =
      byZone(live, fold.zoneMaps, ph, lo, hi)
  }

  object Longs {
    /** The inclusive range of `col op x` for op in `=`, `>`, `>=`,
      * `<`, `<=` — the one place integer comparisons become bounds.
      * `col > Long.MaxValue` and `col < Long.MinValue` match nothing:
      * they give an empty range, never a `+1`/`-1` that wraps round to
      * the whole domain. Intersect the results for a conjunction. */
    def cmp(col: String, op: String, x: Long): Longs = op match {
      case "="  => Longs(col, x, x)
      case ">=" => Longs(col, x, Long.MaxValue)
      case "<=" => Longs(col, Long.MinValue, x)
      case ">"  => if (x == Long.MaxValue) empty(col)
                   else Longs(col, x + 1, Long.MaxValue)
      case "<"  => if (x == Long.MinValue) empty(col)
                   else Longs(col, Long.MinValue, x - 1)
    }
    private def empty(col: String): Longs =
      Longs(col, Long.MaxValue, Long.MinValue)
  }

  /** A string range: byte-order zone maps whose max may be a
    * truncation-bumped upper bound, so the prune keeps a superset. */
  final case class Strings(col: String, lo: String, hi: String)
      extends KeyRange {
    def rows(c: String): Column = functions.col(c).between(lo, hi)
    private[sources] def prune(live: Seq[String], ph: String,
        fold: SnapshotLog.FoldState): Seq[String] =
      byZone(live, fold.zoneMapsStr, ph, lo, hi)
  }

  /** A DATE range in inclusive epoch days: the prune rides the
    * integer zone maps, the row predicate compares real dates. */
  final case class Dates(col: String, loDays: Int, hiDays: Int)
      extends KeyRange {
    def rows(c: String): Column = functions.col(c).between(
      functions.date_from_unix_date(functions.lit(loDays)),
      functions.date_from_unix_date(functions.lit(hiDays)))
    private[sources] def prune(live: Seq[String], ph: String,
        fold: SnapshotLog.FoldState): Seq[String] =
      byZone(live, fold.zoneMaps, ph, loDays.toLong, hiDays.toLong)
  }

  /** A set of partition values of the partition column `col`: the
    * victims are those partitions' directories, no stat probed. */
  final case class Partitions(col: String, values: Seq[String])
      extends KeyRange {
    def rows(c: String): Column = functions.col(c).isin(values: _*)
    private[sources] def prune(live: Seq[String], ph: String,
        fold: SnapshotLog.FoldState): Seq[String] = {
      val prefixes = values.map(x =>
        s"$ph=${ExternalCatalogUtils.escapePathName(x)}/")
      live.filter(f => prefixes.exists(f.startsWith))
    }
  }
}
