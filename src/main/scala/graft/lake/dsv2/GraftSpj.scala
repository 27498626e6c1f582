package graft.lake.dsv2

import graft.lake.{DataFile, LakeSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, Murmur3HashFunction, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.util.OptionalLong

/** Storage-partitioned joins (SPJ) for bucket-partitioned lake tables — the
  * scale feature that removes BOTH shuffles from a fact⋈fact join when the
  * two sides are bucketed on the join key (Iceberg's marquee Spark
  * integration; at 100 TB the shuffle this elides IS the query cost).
  *
  * Mechanics: when `spark.sql.sources.v2.bucketing.enabled=true` and the
  * table's partition spec is pure `bucket[n]` transforms,
  * [[GraftReadRule]] leaves the DSv2 relation in place and
  * [[GraftTable.newScanBuilder]] returns this batch scan instead of the
  * substituted parquet plan. The scan:
  *
  *   - reports [[KeyGroupedPartitioning]] over the spec's bucket
  *     transforms, with one input split per bucket present
  *     ([[HasPartitionKey]] carries the bucket ordinal);
  *   - resolves the transform through [[GraftCatalog]]'s FunctionCatalog
  *     (`bucket` → [[GraftBucketFunction]], the same murmur3(seed=42)+pmod
  *     the write path computes via [[graft.lake.Transforms.expr]]), so two
  *     tables bucketed `bucket[n](k)` compare partition-compatible and
  *     Catalyst's EnsureRequirements plans the join with NO Exchange on
  *     either side;
  *   - decodes parquet through the same `private[sql]` reader
  *     FileSourceScanExec uses ([[ScanBridge.parquetReader]]): vectorized
  *     decode + row-group pruning from pushed filters, with file-level
  *     stats/partition pruning from the lake metadata before that;
  *   - maps write-time physical schemas to the current logical schema
  *     per file group (rename/widen/add — same split planning as the
  *     substituted path), via an executor-built projection.
  *
  * Falls back to [[UnknownPartitioning]] (correct, just shuffling) when
  * live files span partition specs (mid-evolution tables). Time travel,
  * branches, and WAP routing all hold — the scan resolves its snapshot
  * exactly like [[GraftTable.readDataFrame]].
  */
object GraftSpj {

  /** SPJ mode is an explicit opt-in via Spark's own v2 bucketing flag —
    * the same switch Iceberg keys on. `spark.graft.spj.enabled` exists to
    * isolate regressions without touching the Spark flag. */
  def active(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
      spark.conf.get("spark.graft.spj.enabled", "true").toBoolean

  private[dsv2] val BucketRe = """bucket\[(\d+)\]""".r

  /** Bucket-able source types: those whose murmur3 hash we reproduce
    * exactly in [[GraftBucketFunction]] (must agree with Spark's `hash()`
    * used by the write-side transform). */
  private[dsv2] def bucketableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType | DateType => true
    case _ => false
  }

  /** Identity-partition types we can reconstruct EXACTLY from the stored
    * partition-value string (dir-name round-trip): integrals, strings,
    * dates. Floats/timestamps stay excluded — their string forms are not
    * provably bit-stable across writers. */
  private[dsv2] def identityType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType | DateType => true
    case _ => false
  }

  /** A table qualifies when every partition field is `bucket[n]` over a
    * supported source type or `identity` over a string-round-trippable
    * type — both yield join-key-equals-partition-key semantics. Time
    * transforms (days/hours/…) partition for pruning, not joining: a join
    * on the SOURCE column can't ride a derived-ordinal partitioning, so
    * those tables keep the substituted path. */
  def eligible(t: GraftTable): Boolean = t.metaKind.isEmpty && {
    val m = t.lakeTable.meta
    m.spec.fields.nonEmpty && m.spec.fields.forall { f =>
      f.transform match {
        case BucketRe(_) => m.schema.byId(f.sourceId).exists(c => bucketableType(c.sparkType))
        case "identity" => m.schema.byId(f.sourceId).exists(c => identityType(c.sparkType))
        case _ => false
      }
    } &&
    // merge-on-read deletes (positional or equality) need the anti-join
    // read path — fall back to the substituted relation (which applies
    // them) until rewrite_position_deletes/compaction clears the masks
    t.lakeTable.resolveSnapshot(t.pinnedSnapshotId, t.pinnedBranch, t.pinnedTimestampMs)
      .forall(s => s.deleteFiles.isEmpty && s.eqDeleteFiles.isEmpty)
  }

  /** Internal (InternalRow) value of one partition-field cell from its
    * string-encoded metadata value. Bucket ordinals are Int; identity
    * values are typed per source; Hive's null marker maps to null. */
  private[lake] def internalKeyValue(transform: String, srcType: DataType,
                                     raw: String): Option[Any] =
    scala.util.Try {
      transform match {
        case BucketRe(_) => Int.box(raw.toInt)
        case "identity" =>
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else srcType match {
            case ByteType => Byte.box(raw.toByte)
            case ShortType => Short.box(raw.toShort)
            case IntegerType => Int.box(raw.toInt)
            case LongType => Long.box(raw.toLong)
            case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
            case DateType => Int.box(java.time.LocalDate.parse(raw).toEpochDay.toInt)
            case other => throw new IllegalArgumentException(s"unsupported $other")
          }
        case other => throw new IllegalArgumentException(s"unsupported transform $other")
      }
    }.toOption
}

/** The v2 `bucket(n, col)` function, served by [[GraftCatalog]]'s
  * FunctionCatalog so Catalyst can resolve the partition transform on both
  * join sides to ONE canonical function — the identity that makes two
  * KeyGroupedPartitionings compatible. Semantics = the write path's
  * `pmod(hash(col), n)` ([[graft.lake.Transforms.expr]], Spark murmur3
  * seed 42), so a runtime-bucketed shuffle (v2 bucketing shuffle of an
  * unpartitioned side) lands rows in exactly the stored buckets. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(murmur3_hash(col, seed=42), n) — graft's write-side bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket expects (numBuckets, value), got ${inputType.catalogString}")
    val vt = inputType.fields(1).dataType
    require(GraftSpj.bucketableType(vt), s"bucket: unsupported value type ${vt.catalogString}")
    BoundBucket(vt)
  }
}

/** The time partition transforms as v2 catalog functions —
  * `SELECT lake.system.days(ts)` etc. (Iceberg exposes the same), with
  * ordinals identical to the write-side [[graft.lake.Transforms]]:
  * days/hours since epoch, months since 1970-01, years since 1970, all
  * UTC. Usable for debugging partition layouts and for expressing
  * partition-aligned predicates by hand. */
case class GraftTimeTransformFunction(transform: String) extends UnboundFunction {
  override def name(): String = transform
  override def description(): String =
    s"$transform(ts|date): graft's $transform partition ordinal (UTC, epoch-based)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 1, s"$transform expects one argument")
    val dt = inputType.fields(0).dataType
    require(dt == DateType || dt == TimestampType || dt == TimestampNTZType,
      s"$transform: unsupported type ${dt.catalogString}")
    BoundTimeTransform(transform, dt)
  }
}

case class BoundTimeTransform(transform: String, valueType: DataType)
  extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(valueType)
  override def resultType(): DataType = LongType
  override def name(): String = transform
  override def canonicalName(): String = s"graft.$transform"
  override def produceResult(input: InternalRow): java.lang.Long = {
    if (input.isNullAt(0)) return null
    val micros: Long = valueType match {
      // DateType arrives as epoch days
      case DateType => input.getInt(0).toLong * graft.lake.Transforms.MicrosPerDay
      case _ => input.getLong(0)
    }
    Long.box(graft.lake.Transforms.applyToMicros(transform, micros))
  }
  override def isResultNullable: Boolean = true
}

case class BoundBucket(valueType: DataType) extends ScalarFunction[Integer]
    with org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[Integer, Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, valueType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket(${valueType.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    // hash(null) = seed (42) — matches Spark's hash() over a null column
    val h =
      if (input.isNullAt(1)) 42
      else Murmur3HashFunction.hash(input.get(1, valueType), valueType, 42L).toInt
    Integer.valueOf(((h % n) + n) % n)
  }

  /** SPJ across MISMATCHED bucket counts (bucket(8) ⋈ bucket(16)): both
    * sides reduce to gcd buckets — `(h mod n) mod g = h mod g` whenever
    * `g | n`, so regrouping stored partitions by `bucket mod gcd` lands
    * every row in the bucket the other side's reduced key predicts, and
    * the join stays zero-shuffle. Spark asks via
    * `spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`;
    * returning null means "this side already at the target granularity". */
  override def reducer(thisNumBuckets: Int,
      otherFunction: org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[_, _],
      otherNumBuckets: Int): org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] =
    otherFunction match {
      case BoundBucket(_) =>
        val gcd = BigInt(thisNumBuckets).gcd(BigInt(otherNumBuckets)).toInt
        if (gcd > 1 && gcd != thisNumBuckets) BucketReducer(gcd) else null
      case _ => null
    }
}

/** bucket ordinal → ordinal mod gcd: the partition-key regrouping for
  * compatible-transform SPJ. */
case class BucketReducer(divisor: Int)
    extends org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] {
  override def reduce(bucket: Integer): Integer =
    Integer.valueOf(bucket.intValue() % divisor)
}

/** One split = one partition tuple (all files of one partition-value
  * combination). `key` holds InternalRow-typed values in spec-field order
  * (Int bucket ordinals; typed identity values; null for Hive's null
  * partition). */
case class GraftInputPartition(
    key: Array[Any],
    files: Seq[GraftFileSlice]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

case class GraftFileSlice(path: String, sizeBytes: Long, schemaId: Int,
    /** hive-layout import only (r12): logical column name → raw directory
      * string for each `fromPath` column of this file's schema group. */
    pathValues: Map[String, String] = Map.empty)

/** Where one OUTPUT column's value comes from when reading a file of a
  * given written-schema group. */
sealed trait GraftColRead extends Serializable
object GraftColRead {
  /** Column added after this file was written → null-fill at its type. */
  final case class NullFill(dt: DataType) extends GraftColRead
  /** Read from the parquet bytes at this ordinal of the read schema. */
  final case class FromFile(ordinal: Int, needCast: Boolean) extends GraftColRead
  /** Hive-layout import: constant per file, from the slice's pathValues. */
  final case class FromPath(name: String) extends GraftColRead
}

/** Per-written-schema read plan: the parquet reader function (driver-built,
  * executor-shipped — it carries its own broadcast hadoop conf) plus the
  * projection recipe from read columns to the current logical schema. */
case class GraftSchemaReader(
    reader: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
    /** read-side schema (write-time physical names/types, required cols only) */
    readSchema: StructType,
    /** value source for each OUTPUT column */
    colMap: Seq[GraftColRead],
    outputSchema: StructType)

case class GraftReaderFactory(bySchema: Map[Int, GraftSchemaReader])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val gp = partition.asInstanceOf[GraftInputPartition]
    // one projection per (written-schema group, partition tuple), built
    // lazily executor-side — the tuple varies only across hive-layout
    // imported files, and a task sees few distinct tuples (one under SPJ)
    val projections =
      scala.collection.mutable.Map.empty[(Int, Map[String, String]), UnsafeProjection]
    def projectionFor(schemaId: Int, pv: Map[String, String]): UnsafeProjection =
      projections.getOrElseUpdate((schemaId, pv), {
        val sr = bySchema(schemaId)
        val in = sr.readSchema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, f.nullable)
        }
        val exprs: Seq[Expression] = sr.colMap.zip(sr.outputSchema.fields).map {
          case (GraftColRead.NullFill(dt), _) => Literal(null, dt)
          case (GraftColRead.FromFile(i, needCast), out) =>
            if (needCast) Cast(in(i), out.dataType, Some("UTC")) else in(i)
          case (GraftColRead.FromPath(name), out) =>
            // directory-string semantics: cast the raw segment exactly
            // like Spark casts partition-directory values
            pv.get(name).filter(_ != "__HIVE_DEFAULT_PARTITION__") match {
              case Some(raw) => Cast(Literal(
                org.apache.spark.unsafe.types.UTF8String.fromString(raw),
                org.apache.spark.sql.types.StringType), out.dataType, Some("UTC"))
              case None => Literal(null, out.dataType)
            }
        }
        UnsafeProjection.create(exprs)
      })

    new PartitionReader[InternalRow] {
      private val iter: Iterator[InternalRow] = gp.files.iterator.flatMap { f =>
        val sr = bySchema(f.schemaId)
        val proj = projectionFor(f.schemaId, f.pathValues)
        sr.reader(ScanBridge.wholeFile(f.path, f.sizeBytes)).map(proj.apply)
      }
      private var current: InternalRow = _
      override def next(): Boolean = { val has = iter.hasNext; if (has) current = iter.next(); has }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

class GraftBatchScanBuilder(spark: SparkSession, table: GraftTable)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = table.schema()

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(table.filterToColumn(_).isDefined)
    filters // all remain residuals: pruning may keep extra rows, Spark re-checks
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new GraftBatchScan(spark, table, required, pushed)
}

class GraftBatchScan(
    spark: SparkSession,
    table: GraftTable,
    required: StructType,
    pushed: Array[Filter])
  extends Scan with Batch with SupportsReportPartitioning with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val lake = table.lakeTable
  // pin metadata + snapshot at scan construction: every piece of this scan
  // (file list, schema groups, partition report) sees ONE version
  private val m = lake.meta
  private val snap = lake.resolveSnapshot(
    table.pinnedSnapshotId, table.pinnedBranch, table.pinnedTimestampMs)

  private val liveFiles: Seq[DataFile] = {
    val all = snap.map(_.files).getOrElse(Seq.empty)
    val cond = pushed.toSeq.flatMap(f => table.filterToColumn(f)).reduceOption(_ && _)
    cond match {
      // stats + hidden partitions + manifest blooms, like LakeTable.read
      case Some(c) => lake.pruneFiles(m, all, graft.lake.Pruning.translate(c))
      case None => all
    }
  }

  private val specFields = m.spec.fields
  private val sameSpec = liveFiles.forall(_.specId == m.spec.specId)

  /** Typed partition-key values per file, spec-field order; None if any
    * value is missing or unparseable (shouldn't happen on sameSpec files,
    * but never throw in planning on account of one stray file — fall
    * back to shuffling). */
  private def keyOf(f: DataFile): Option[Array[Any]] = {
    val vs = specFields.map { pf =>
      for {
        src <- m.schema.byId(pf.sourceId)
        raw <- f.partitionValues.get(pf.physicalName)
        v <- GraftSpj.internalKeyValue(pf.transform, src.sparkType, raw)
      } yield v
    }
    if (vs.forall(_.isDefined)) Some(vs.map(_.get).toArray) else None
  }

  private lazy val grouped: Option[Seq[(Array[Any], Seq[DataFile])]] =
    if (!sameSpec || !GraftSpj.eligible(table)) None
    else {
      val keyed = liveFiles.map(f => keyOf(f).map(k => (k, f)))
      if (keyed.exists(_.isEmpty)) None
      else Some(keyed.flatten.groupBy(_._1.toSeq).map { case (k, fs) =>
        (k.toArray, fs.map(_._2))
      }.toSeq.sortBy(_._1.map(String.valueOf).mkString(",")))
    }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning = grouped match {
    case Some(groups) if groups.nonEmpty =>
      val transforms: Array[org.apache.spark.sql.connector.expressions.Expression] =
        specFields.map { pf =>
          val src = m.schema.byId(pf.sourceId).get
          (pf.transform match {
            case GraftSpj.BucketRe(n) => Expressions.bucket(n.toInt, src.name)
            case "identity" => Expressions.identity(src.name)
          }): org.apache.spark.sql.connector.expressions.Expression
        }.toArray
      new KeyGroupedPartitioning(transforms, groups.size)
    case _ => new UnknownPartitioning(math.max(1, liveFiles.size))
  }

  // ---- sorted-scan reporting (zero-sort joins over sorted storage) --------
  //
  // After `rewrite_data_files(sort_by = k)` the WHOLE table was rewritten
  // range-partitioned + sorted by k: every file is internally sorted and
  // file ranges are disjoint. The head snapshot's `sort-order` summary is
  // the claim (any later commit drops it — conservative and correct);
  // file stats VERIFY it: within each task's file set, [min,max] of the
  // leading sort column must be non-overlapping when ordered by min, and
  // null-bearing files are rejected (null placement can't be proven from
  // counts alone). When it holds, the scan reports the leading column's
  // ascending order and concatenates files in min order — a co-bucketed
  // join over sort-clustered tables then plans with NO Exchange and NO
  // Sort on either side.

  private def statRange(f: DataFile, c: graft.lake.LakeColumn): Option[(Any, Any)] = {
    val written = m.schemas.find(_.schemaId == f.schemaId).getOrElse(m.schema)
    for {
      w <- written.byId(c.id)
      st <- f.stats.get(w.physicalName)
      if st.nullCount == 0
      mn <- st.min
      mx <- st.max
    } yield (graft.lake.Pruning.decodeStat(mn, w.sparkType),
      graft.lake.Pruning.decodeStat(mx, w.sparkType))
  }

  /** Files ordered by min(c) if their [min,max] ranges chain without
    * overlap (boundary equality allowed — equal adjacency keeps the
    * leading column sorted); None when unprovable. */
  private def orderedIfDisjoint(files: Seq[DataFile],
                                c: graft.lake.LakeColumn): Option[Seq[DataFile]] = {
    if (files.size <= 1) return Some(files)
    val ranges = files.map(f => statRange(f, c).map(r => (f, r)))
    if (ranges.exists(_.isEmpty)) None
    else {
      val sorted = ranges.flatten.sortWith { (a, b) =>
        graft.lake.Pruning.compare(a._2._1, b._2._1).exists(_ < 0)
      }
      val chained = sorted.sliding(2).forall {
        case Seq((_, (_, amax)), (_, (bmin, _))) =>
          graft.lake.Pruning.compare(amax, bmin).exists(_ <= 0)
        case _ => true
      }
      if (chained) Some(sorted.map(_._1)) else None
    }
  }

  /** The leading sort column, when the head snapshot's sort-order claim
    * is stats-verified across every task's file set. */
  private lazy val sortedLeading: Option[graft.lake.LakeColumn] = {
    val claimed = snap.flatMap(_.summary.get("sort-order"))
      .map(_.split(",").head.trim).flatMap(m.schema.byName)
    claimed.filter { c =>
      grouped match {
        case Some(groups) => groups.forall { case (_, fs) => orderedIfDisjoint(fs, c).isDefined }
        case None => true // fallback path: one file per split, in-file order suffices
      }
    }
  }

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortedLeading.map { c =>
      Array(Expressions.sort(Expressions.column(c.name),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    }.getOrElse(Array.empty)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, liveFiles.map(_.sizeBytes).sum))
    override def numRows(): OptionalLong =
      OptionalLong.of(liveFiles.map(_.rowCount).sum)
    // ANALYZE-collected per-column stats ([[graft.lake.Analyze]]), served
    // only when FRESH (they describe exactly this snapshot) and the scan
    // still COVERS the whole snapshot. Pushed filters here are pruning
    // hints (every filter stays residual — Spark re-checks above), so
    // they only skew the stats when file pruning actually DROPPED a file
    // (then numRows describes the pruned subset while column stats
    // describe the table, and the residual Filter's selectivity estimate
    // would double-count). When nothing pruned (r17 widening — the
    // common case for a selective filter over value-scattered files),
    // serving stats is exactly what lets FilterEstimation shrink the
    // filtered side below the broadcast threshold. min/max are reported
    // for every type whose string-stored bound parses back losslessly:
    // integrals, double/float/decimal, date, timestamps (strings/binary
    // carry no object bounds).
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val coversSnapshot = pushed.isEmpty ||
        liveFiles.size == snap.map(_.files.size).getOrElse(0)
      if (coversSnapshot) {
        val fresh = graft.lake.Analyze.freshHydrated(
          m, lake.metaStore, snap.map(_.snapshotId))
        fresh.foreach(_.columns.foreach { c =>
          out.put(Expressions.column(c.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                c.ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong = OptionalLong.of(c.nullCount)
              // Bounds parse back from the portable CAST-AS-STRING form to
              // the catalyst-internal value CBO expects: integrals → Long,
              // double/float/decimal numerics, date → epoch days,
              // timestamps → epoch micros (session-zone parse, mirroring
              // the CAST that produced the string; r17 — was integral-only,
              // leaving range selectivity on double/date/timestamp filter
              // columns histogram-only). Tolerate an unparseable persisted
              // bound (hand-edited property, schema drift): drop the
              // bound, never crash planning over an optimizer hint.
              private def parseBound(raw: String): Option[Object] = scala.util.Try {
                import org.apache.spark.unsafe.types.UTF8String
                val dtu = org.apache.spark.sql.catalyst.util.DateTimeUtils
                (c.dataType match {
                  case "bigint" | "int" | "smallint" | "tinyint" =>
                    Some(java.lang.Long.valueOf(raw.toLong))
                  case "double" => Some(java.lang.Double.valueOf(raw.toDouble))
                  case "float" => Some(java.lang.Float.valueOf(raw.toFloat))
                  case d if d.startsWith("decimal(") =>
                    Some(org.apache.spark.sql.types.Decimal(BigDecimal(raw)))
                  case "date" =>
                    dtu.stringToDate(UTF8String.fromString(raw))
                      .map(d => java.lang.Integer.valueOf(d))
                  case "timestamp" =>
                    dtu.stringToTimestamp(UTF8String.fromString(raw),
                      java.time.ZoneId.of(org.apache.spark.sql.internal.SQLConf
                        .get.sessionLocalTimeZone))
                      .map(t => java.lang.Long.valueOf(t))
                  case "timestamp_ntz" =>
                    dtu.stringToTimestampWithoutTimeZone(UTF8String.fromString(raw))
                      .map(t => java.lang.Long.valueOf(t))
                  case _ => None
                }): Option[Object]
              }.toOption.flatten
              private def parsed(s: Option[String]): java.util.Optional[Object] =
                java.util.Optional.ofNullable(s.flatMap(parseBound).orNull)
              override def min(): java.util.Optional[Object] = parsed(c.min)
              override def max(): java.util.Optional[Object] = parsed(c.max)
              override def avgLen(): OptionalLong =
                c.avgLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def maxLen(): OptionalLong =
                c.maxLen.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              // equi-height bins off the persisted KLL sketch (numeric
              // columns): boundaries at ranks i/16, per-bin NDV the
              // uniform share of the column NDV — the standard
              // equi-height assumption CBO's range selectivity uses
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                c.kll.flatMap { b =>
                  scala.util.Try {
                    val nBins = 16
                    val bytes = java.util.Base64.getDecoder.decode(b)
                    val qs = graft.functions.KllQuantilesAgg.quantiles(
                      bytes, (0 to nBins).map(_.toDouble / nBins).toArray)
                    if (qs.isEmpty) None
                    else {
                      val n = graft.functions.KllQuantilesAgg.count(bytes)
                      val binNdv = math.max(1L, c.ndv.getOrElse(nBins.toLong) / nBins)
                      val theBins = (0 until nBins).map { bi =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = qs(bi)
                          override def hi(): Double = qs(bi + 1)
                          override def ndv(): Long = binNdv
                        }
                      }.toArray
                      Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = n.toDouble / nBins
                        override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] = theBins
                      })
                    }
                  }.toOption.flatten
                } match {
                  case Some(h) => java.util.Optional.of(h)
                  case None => java.util.Optional.empty()
                }
            })
        })
      }
      out
    }
  }

  // ---- runtime filtering (the DSv2 dynamic-partition-pruning hook) --------
  //
  // Spark plans a DynamicPruningSubquery over `filterAttributes` when this
  // scan joins a filtered build side on those columns; at execution it
  // calls `filter` with the build side's key set BEFORE planInputPartitions.
  // Two prunes follow: whole buckets whose ordinal no key hashes into
  // (exact — bucket(v) fixes a row's only possible location), and files
  // whose column stats exclude every key. Bucket groups are EMPTIED, not
  // dropped, so the reported KeyGroupedPartitioning stays valid.

  @volatile private var runtimePred: Option[graft.lake.Pruning.Pred] = None
  @volatile private var runtimeBuckets: Option[Set[Seq[Any]]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (grouped.isDefined)
      specFields.flatMap(pf => m.schema.byId(pf.sourceId)
        .map(c => Expressions.column(c.name))).toArray
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val cond = filters.toSeq.flatMap(f => table.filterToColumn(f)).reduceOption(_ && _)
    runtimePred = cond.map(graft.lake.Pruning.translate)
    // partition-key pruning from IN sets on the (single-field) source
    // column: bucket → hash each key to its only possible ordinal;
    // identity → the keys ARE the partition values
    runtimeBuckets = specFields match {
      case Seq(pf) =>
        val src = m.schema.byId(pf.sourceId).get
        def internalOf(v: Any): Any = v match {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
          case d: java.time.LocalDate => d.toEpochDay.toInt
          case other => other
        }
        filters.collectFirst {
          case org.apache.spark.sql.sources.In(a, vs) if a == src.name =>
            pf.transform match {
              case GraftSpj.BucketRe(nStr) =>
                val n = nStr.toInt
                vs.toSet[Any].map { v =>
                  val internal = internalOf(v)
                  val h =
                    if (internal == null) 42
                    else Murmur3HashFunction.hash(internal, src.sparkType, 42L).toInt
                  Seq[Any](((h % n) + n) % n)
                }
              case _ => vs.toSet[Any].map(v => Seq[Any](internalOf(v)))
            }
        }
      case _ => None
    }
  }

  private def runtimeKeep(f: DataFile): Boolean = runtimePred match {
    // stats first, then manifest blooms: a DPP/runtime-filter In over a
    // bloom-declared join key (hash-like — stats overlap every file)
    // prunes the probe side file-by-file. BloomSkip.filter short-circuits
    // to the input when the pred or table doesn't engage blooms, and the
    // merged index is version-cached, so the per-file call stays cheap.
    case Some(p) =>
      graft.lake.Pruning.mayMatch(p, lake.fileBounds(m, f)) &&
        graft.lake.BloomSkip.filter(lake.metaStore, m, p, Seq(f)).nonEmpty
    case None => true
  }

  /** Slice for one file; hive-layout imported files carry their partition
    * tuple's raw directory strings so the reader can fill `fromPath`
    * columns (constant per file, never in the bytes). */
  private def sliceFor(f: DataFile): GraftFileSlice = {
    val fromPath = m.schemas.find(_.schemaId == f.schemaId)
      .map(_.columns.filter(_.fromPath)).getOrElse(Seq.empty)
    val pv =
      if (fromPath.isEmpty) Map.empty[String, String]
      else {
        val spec = m.partitionSpecs.find(_.specId == f.specId)
        fromPath.flatMap { c =>
          spec.flatMap(_.fields.find(p =>
              p.sourceId == c.id && p.transform == "identity"))
            .flatMap(pf => f.partitionValues.get(pf.physicalName))
            .map(c.physicalName -> _)
        }.toMap
      }
    GraftFileSlice(f.path, f.sizeBytes, f.schemaId, pv)
  }

  override def planInputPartitions(): Array[InputPartition] = grouped match {
    case Some(groups) =>
      groups.map { case (k, fs) =>
        val kept =
          if (runtimeBuckets.exists(!_.contains(k.toSeq))) Seq.empty
          else {
            // when ordering is reported, the task must concatenate its
            // files in min order of the sort column
            val ordered = sortedLeading.flatMap(c => orderedIfDisjoint(fs, c)).getOrElse(fs)
            ordered.filter(runtimeKeep)
          }
        GraftInputPartition(k, kept.map(sliceFor)): InputPartition
      }.toArray
    case None =>
      // non-SPJ fallback: one split per file, no partition keys
      liveFiles.filter(runtimeKeep).map(f =>
        GraftInputPartition(Array.empty, Seq(sliceFor(f))): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val cur = m.schema
    val schemaIds = liveFiles.map(_.schemaId).distinct
    val hadoopConf = spark.sessionState.newHadoopConf()
    val bySchema = schemaIds.map { sid =>
      val written = m.schemas.find(_.schemaId == sid).getOrElse(cur)
      // read columns in OUTPUT order so the projection is positional
      val mapped = required.fields.map { out =>
        val c = cur.byName(out.name).getOrElse(
          throw new IllegalStateException(s"required column ${out.name} not in schema"))
        written.byId(c.id)
      }
      // fromPath columns (hive-layout imports) are NOT in the bytes:
      // excluded from the parquet read schema, filled per-slice instead
      val readFields = mapped.flatten.filterNot(_.fromPath).map(w =>
        StructField(w.physicalName, w.sparkType, w.nullable))
      val readSchema = StructType(readFields)
      var nextIdx = -1
      val colMap: Seq[GraftColRead] =
        required.fields.toSeq.zip(mapped.toSeq).map {
          case (out, None) => GraftColRead.NullFill(out.dataType)
          case (_, Some(w)) if w.fromPath => GraftColRead.FromPath(w.physicalName)
          case (out, Some(w)) =>
            nextIdx += 1
            GraftColRead.FromFile(nextIdx, w.sparkType != out.dataType)
        }
      // parquet row-group pruning: rewrite pushed filter column names to
      // this group's write-time physical names; drop any filter touching
      // a renamed-type/missing column (residual evaluation catches it)
      val nameMap = cur.columns.flatMap { c =>
        written.byId(c.id).collect {
          // fromPath columns aren't in the bytes — nothing to push there
          case w if w.sparkType == c.sparkType && !w.fromPath =>
            c.name -> w.physicalName
        }
      }.toMap
      val physFilters = pushed.toSeq.flatMap(GraftFilterRewrite.rewrite(_, nameMap))
      val fileOnlySchema = StructType(
        written.physicalSchema.fields.filterNot(f =>
          written.columns.exists(c => c.fromPath && c.physicalName == f.name)))
      val reader = ScanBridge.parquetReader(
        spark, fileOnlySchema, readSchema, physFilters, hadoopConf)
      sid -> GraftSchemaReader(reader, readSchema, colMap, required)
    }.toMap
    GraftReaderFactory(bySchema)
  }

  override def description(): String =
    s"GraftBatchScan ${table.name()} files=${liveFiles.size} spj=${grouped.isDefined}"
}

/** Rename filter attribute references logical→physical; None when any
  * referenced column has no same-type physical mapping. */
object GraftFilterRewrite {
  import org.apache.spark.sql.sources._
  def rewrite(f: Filter, nameMap: Map[String, String]): Option[Filter] = f match {
    case EqualTo(a, v) => nameMap.get(a).map(EqualTo(_, v))
    case EqualNullSafe(a, v) => nameMap.get(a).map(EqualNullSafe(_, v))
    case GreaterThan(a, v) => nameMap.get(a).map(GreaterThan(_, v))
    case GreaterThanOrEqual(a, v) => nameMap.get(a).map(GreaterThanOrEqual(_, v))
    case LessThan(a, v) => nameMap.get(a).map(LessThan(_, v))
    case LessThanOrEqual(a, v) => nameMap.get(a).map(LessThanOrEqual(_, v))
    case In(a, vs) => nameMap.get(a).map(In(_, vs))
    case IsNull(a) => nameMap.get(a).map(IsNull(_))
    case IsNotNull(a) => nameMap.get(a).map(IsNotNull(_))
    case StringStartsWith(a, v) => nameMap.get(a).map(StringStartsWith(_, v))
    case StringEndsWith(a, v) => nameMap.get(a).map(StringEndsWith(_, v))
    case StringContains(a, v) => nameMap.get(a).map(StringContains(_, v))
    case And(l, r) => for (lf <- rewrite(l, nameMap); rf <- rewrite(r, nameMap)) yield And(lf, rf)
    // Or/Not must rewrite BOTH sides or neither (a half-rewritten Or is wrong)
    case Or(l, r) => for (lf <- rewrite(l, nameMap); rf <- rewrite(r, nameMap)) yield Or(lf, rf)
    case Not(c) => rewrite(c, nameMap).map(Not(_))
    case _ => None
  }
}
