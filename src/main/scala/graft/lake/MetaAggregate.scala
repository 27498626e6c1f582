package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Metadata-only aggregation: the answer of an unfiltered COUNT(*),
  * COUNT(col), MIN(col) or MAX(col), ungrouped or grouped by an identity
  * partition column, read from a snapshot's per-file row counts,
  * partition values and footer stats — no data file is read, at any
  * table size. The one place that decides which aggregates metadata can
  * answer exactly, and under which delete masks:
  *   - equality deletes mask an unknowable number of rows: never answered;
  *   - position deletes: only COUNT(*) (per-file masked counts are exact
  *     metadata and subtract) and the group key are answered;
  *   - COUNT(col), MIN and MAX need an unmasked snapshot and stats that
  *     vouch for every data-bearing file: MIN/MAX only for integer-domain
  *     columns (int family, date = epoch days, timestamp = epoch micros),
  *     and never for a column added with a non-NULL default (footers know
  *     nothing of the rows that read it).
  * Ungrouped is one group over every file, so an empty snapshot still
  * yields one row (COUNT 0, MIN/MAX null). Grouped is files grouped by
  * their decoded identity partition value; a file without one declines,
  * and a group with no live row is dropped, as a scan never produces it. */
object MetaAggregate {

  /** One output column of a metadata-answered aggregate. */
  sealed trait Agg
  /** The group's partition value (grouped only). */
  case object GroupKey extends Agg
  case object CountStar extends Agg
  final case class CountOf(col: String) extends Agg
  final case class MinOf(col: String) extends Agg
  final case class MaxOf(col: String) extends Agg

  /** Result rows of `aggs` over `snap` (None = no snapshot yet), grouped
    * by `groupBy` when given, as Catalyst internal values ready for a
    * LocalRelation; None when metadata cannot answer exactly and the
    * caller must scan. */
  def apply(m: TableMeta, snap: Option[Snapshot], groupBy: Option[String],
            aggs: Seq[Agg]): Option[Seq[InternalRow]] = {
    val deletes = snap.fold(Seq.empty[DeleteFile])(_.deleteFiles)
    if (snap.exists(_.eqDeleteFiles.nonEmpty) ||
        deletes.nonEmpty && !aggs.forall(a => a == GroupKey || a == CountStar)) return None
    val deleted = deletes.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
    def live(files: Seq[DataFile]): Long =
      files.map(f => f.rowCount - deleted.getOrElse(new Path(f.path).getName, 0L)).sum
    // zero-row files contribute no row, so they neither vouch nor group
    val files = snap.fold(Seq.empty[DataFile])(_.files).filter(_.rowCount > 0)
    val groups: Seq[(Any, Seq[DataFile])] = groupBy match {
      case None => Seq((null, files))
      case Some(g) =>
        val keys = files.map(partitionValue(m, _, g))
        if (keys.contains(None)) return None
        val byKey = scala.collection.mutable.LinkedHashMap.empty[Any, Vector[DataFile]]
        keys.flatten.zip(files).foreach { case (k, f) =>
          byKey(k) = byKey.getOrElse(k, Vector.empty) :+ f }
        byKey.toSeq.filter { case (_, fs) => live(fs) > 0 }
    }
    val rows = groups.map { case (key, fs) =>
      aggs.map {
        case GroupKey => Some(key)
        case CountStar => Some(live(fs))
        case CountOf(c) => countOf(m, fs, c)
        case MinOf(c) => bounds(m, fs, c).map(_._1)
        case MaxOf(c) => bounds(m, fs, c).map(_._2)
      }
    }
    if (rows.exists(_.contains(None))) None
    else Some(rows.map(r => InternalRow.fromSeq(r.flatten)))
  }

  /** `f`'s decoded identity partition value of column `col` (internal;
    * null for the null partition), or None when `f`'s spec does not
    * identity-partition it. */
  private def partitionValue(m: TableMeta, f: DataFile, col: String): Option[Any] =
    for {
      c <- m.schema.byName(col)
      spec <- m.partitionSpecs.find(_.specId == f.specId)
      pf <- spec.fields.find(p => p.sourceId == c.id && p.transform == "identity")
      raw <- f.partitionValues.get(pf.physicalName)
      v <- dsv2.GraftSpj.internalKeyValue("identity", c.sparkType, raw)
    } yield v

  /** Footer stats of column `c` in `f`, with the type `f` wrote it as. A
    * file written before `c` existed reads NULL for it (an all-null stat),
    * unless `c` carries a non-NULL exists-default: None, can't vouch. */
  private def statOf(m: TableMeta, f: DataFile, c: LakeColumn): Option[(ColStat, DataType)] =
    m.schemas.find(_.schemaId == f.schemaId).getOrElse(m.schema).byId(c.id) match {
      case Some(w) => f.stats.get(w.physicalName).map((_, w.sparkType))
      case None if c.existsDefaultSql.forall(_.trim.equalsIgnoreCase("NULL")) =>
        Some((ColStat(None, None, f.rowCount), c.sparkType))
      case None => None
    }

  /** Exact non-null row count of `col` over `files`. Trust per file:
    * decoded bounds imply every block set its null count (Stats.fromFooter
    * drops bounds otherwise), and an all-null column proves itself by
    * nullCount ≥ rowCount; anything else declines. Holds for any top-level
    * primitive column — bounds are a trust proof here, not a value. */
  private def countOf(m: TableMeta, files: Seq[DataFile], col: String): Option[Any] =
    if (files.isEmpty) Some(0L)
    else m.schema.byName(col).flatMap { c =>
      files.foldLeft(Option(0L)) { (acc, f) =>
        acc.flatMap(n => statOf(m, f, c).flatMap {
          case (st, _) if st.min.isDefined || st.max.isDefined => Some(n + f.rowCount - st.nullCount)
          case (st, _) if st.nullCount >= f.rowCount => Some(n)
          case _ => None
        })
      }
    }

  /** Exact (MIN, MAX) of an integer-domain `col` over `files`, as internal
    * values of the column's type (null, null when every row is null).
    * Float/double/decimal/string bounds are pruning-safe but not
    * guaranteed value-exact: None. */
  private def bounds(m: TableMeta, files: Seq[DataFile], col: String): Option[(Any, Any)] =
    if (files.isEmpty) Some((null, null))
    else m.schema.byName(col).filter(c => intFamily(c.sparkType)).flatMap { c =>
      files.foldLeft(Option(Option.empty[(Long, Long)])) { (acc, f) =>
        acc.flatMap(b => statOf(m, f, c).flatMap {
          case (_, dt) if !intFamily(dt) => None
          case (ColStat(Some(mn), Some(mx), _), _) =>
            val (l, h) = (mn.toLong, mx.toLong)
            Some(Some(b.fold((l, h)) { case (lo, hi) => (math.min(lo, l), math.max(hi, h)) }))
          case (ColStat(None, None, nulls), _) if nulls >= f.rowCount => Some(b)
          case _ => None // bounds not collected
        })
      }.map {
        case Some((lo, hi)) => (internal(lo, c.sparkType), internal(hi, c.sparkType))
        case None => (null, null)
      }
    }

  private def intFamily(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A stats bound as an internal value of `dt`. */
  private def internal(v: Long, dt: DataType): Any = dt match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType | DateType => v.toInt
    case _ => v // LongType, TimestampType (micros), TimestampNTZType
  }
}
