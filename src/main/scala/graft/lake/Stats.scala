package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation

import scala.jdk.CollectionConverters._

/** Per-file column statistics extracted from parquet footers — metadata-only,
  * no data read, which is what keeps stats collection viable at 100 TB
  * (the write path has already paid for the footer).
  *
  * Mirrors the reference's files-table stats surface
  * (`null_value_counts, lower_bounds, upper_bounds, record_count,
  * file_size_in_bytes` — Getting Started.ipynb:373, cell 31). */
object Stats {

  /** Read (rowCount, sizeBytes, per-column ColStat) from one parquet file.
    * Stats cover top-level primitive columns only; nested/array/map columns
    * get a null-count-only entry. */
  def fromFooter(path: String, conf: Configuration): (Long, Long, Map[String, ColStat]) = {
    val p = new Path(path)
    val file = HadoopInputFile.fromPath(p, conf)
    // read options from the table's conf: the no-options `open(file)`
    // builds a fresh Configuration, which re-parses core-default.xml and
    // core-site.xml on every call
    val reader = ParquetFileReader.open(file, HadoopReadOptions.builder(conf, p).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val sizeBytes = file.getLength
      // aggregate chunk-level stats per column path (top-level only)
      val acc = scala.collection.mutable.Map[String, (Option[String], Option[String], Long, Boolean)]()
      for (block <- blocks; col <- block.getColumns.asScala) {
        val pathParts = col.getPath.toArray
        if (pathParts.length == 1) {
          val name = pathParts(0)
          val st = col.getStatistics
          val (mn, mx, nulls, ok) =
            if (st == null || st.isEmpty) (None, None, 0L, false)
            else {
              val n = if (st.isNumNullsSet) st.getNumNulls else 0L
              if (st.hasNonNullValue)
                (encode(st.genericGetMin, col.getPrimitiveType.getPrimitiveTypeName,
                         col.getPrimitiveType.getLogicalTypeAnnotation),
                 encode(st.genericGetMax, col.getPrimitiveType.getPrimitiveTypeName,
                         col.getPrimitiveType.getLogicalTypeAnnotation),
                 n, st.isNumNullsSet)
              else (None, None, n, st.isNumNullsSet)
            }
          val prev = acc.getOrElse(name, (None: Option[String], None: Option[String], 0L, true))
          val dt = columnComparator(col.getPrimitiveType.getPrimitiveTypeName,
                                    col.getPrimitiveType.getLogicalTypeAnnotation)
          acc(name) = (
            mergeBound(prev._1, mn, dt, min = true),
            mergeBound(prev._2, mx, dt, min = false),
            prev._3 + nulls,
            prev._4 && ok)
        }
      }
      val stats = acc.map { case (name, (mn, mx, nulls, ok)) =>
        name -> (if (ok) ColStat(mn, mx, nulls) else ColStat(None, None, nulls))
      }.toMap
      (rowCount, sizeBytes, stats)
    } finally reader.close()
  }

  private def decimalScale(logical: LogicalTypeAnnotation): Option[Int] = logical match {
    case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
    case _ => None
  }

  private def encode(v: Any, t: PrimitiveTypeName, logical: LogicalTypeAnnotation): Option[String] =
    t match {
      // Spark writes DecimalType(p<=18) as INT32/INT64 with UNSCALED values;
      // store the scaled decimal string so pruning compares in the same
      // domain as the predicate literal (e.g. "123.45", not "12345").
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 if decimalScale(logical).isDefined =>
        Some(java.math.BigDecimal.valueOf(v.toString.toLong, decimalScale(logical).get).toPlainString)
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
           PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE |
           PrimitiveTypeName.BOOLEAN => Some(v.toString)
      case PrimitiveTypeName.BINARY if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      case _ => None // INT96 / FIXED / raw binary: no usable bounds
    }

  private def columnComparator(t: PrimitiveTypeName,
                               logical: LogicalTypeAnnotation): (String, String) => Int = t match {
    case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 if decimalScale(logical).isDefined =>
      (a, b) => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
      (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    case PrimitiveTypeName.BOOLEAN =>
      (a, b) => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _ => (a, b) => a.compareTo(b)
  }

  private def mergeBound(a: Option[String], b: Option[String],
                         cmp: (String, String) => Int, min: Boolean): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if ((cmp(x, y) <= 0) == min) x else y)
      case (x, None)          => x
      case (None, y)          => y
    }
}
