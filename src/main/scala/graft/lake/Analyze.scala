package graft.lake

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level column statistics — the `ANALYZE TABLE … COMPUTE
  * STATISTICS` surface (Iceberg's statistics files / Delta's ANALYZE):
  * per-column NDV, null count, min/max and length stats, persisted with
  * the snapshot they describe and fed back to the planner through the
  * DSv2 scan's `columnStats()` so CBO can order joins and pick broadcast
  * sides WITHOUT scanning 100 TB at plan time.
  *
  * File-level min/max/null stats already ride every commit for free
  * ([[Stats.fromFooter]] — parquet footers); what ANALYZE adds is the
  * one thing footers cannot give: DISTINCT counts, which is what
  * join-cardinality estimation actually needs.
  *
  * NDV is a DataSketches HLL sketch (lgK=12, the engine Spark's own
  * `hll_sketch_agg` uses), and the SKETCH is what persists — which makes
  * the stats MERGEABLE: [[incremental]] re-analyzes only the files
  * APPENDED since the stamp (HLL register-max union, exact min/max/null
  * folding), so stats maintenance on an append-only table costs the
  * churn, never the table. Any logical row removal (delete files, DV
  * growth, rewrites) falls back to a full pass — sketches cannot
  * subtract. `exactNdv = true` is the audit mode (n distinct aggregates
  * plan an Expand that multiplies the scan by the column count —
  * documented cost, used by the q106 oracle; not incrementally
  * maintainable). NOSCAN runs ZERO jobs: row count and size come off the
  * snapshot's file metadata.
  *
  * Persistence (r17 split): the `graft.stats` table property carries the
  * SCALAR stats (stamp, NDV, bounds, lengths) plus a reference to ONE
  * content-addressed `stats-<sha256/16>.json` metadata object holding
  * the HLL/KLL sketch blobs (~2.7 KB base64 each). The property rides
  * every version document and every wire round trip, so before the split
  * a wide analyzed table paid sketch-bytes × commits in version-JSON
  * growth; now the version document grows O(columns) scalars and the
  * sketch bytes are written ONCE per distinct stats content (putIfAbsent
  * — commit retries and zero-job restamps reuse the identical object).
  * The object is covered by verify_table (content hash) and the orphan
  * sweep (live iff the current property references it), like manifest
  * chunks and bloom bundles. Stats are snapshot-scoped facts, not live
  * state — readers decide staleness by comparing the stamp with the
  * snapshot they scan (the `stats` metadata table exposes a `stale`
  * flag; the DSv2 scan only reports FRESH stats).
  *
  * Maintenance hookup: `graft.analyze.auto = true` runs [[incremental]]
  * on the [[LakeTable.autoMaintain]] cadence — fresh stats are a no-op
  * (zero commits), appends pay one churn-sized pass.
  */
object Analyze {

  /** Table property carrying the serialized [[TableStats]]. */
  val PropKey = "graft.stats"
  /** Property: maintain stats incrementally on the autoMaintain cadence. */
  val AutoKey = "graft.analyze.auto"
  /** HLL lgConfigK — matches Spark's `hll_sketch_agg` default. */
  val LgK = 12

  final case class AnalyzedColumn(
      name: String,
      dataType: String,
      // contentAs guards against Jackson's erasure default (Option[Integer])
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      ndv: Option[Long],
      nullCount: Long,
      /** min/max as Spark `CAST(col AS STRING)` of the column value —
        * portable, human-auditable; absent for all-null columns. */
      min: Option[String],
      max: Option[String],
      /** length stats (string/binary columns only): truncated mean and
        * max of `length(col)` over non-null rows. */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      avgLen: Option[Long],
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      maxLen: Option[Long],
      /** total `length(col)` over non-null rows — what makes avgLen
        * mergeable across incremental passes. */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      sumLen: Option[Long] = None,
      /** base64 DataSketches HLL sketch backing `ndv` (absent in
        * exact-NDV audit mode — exact counts cannot merge). */
      sketch: Option[String] = None,
      /** base64 DataSketches KLL quantile sketch (numeric columns only):
        * mergeable value distribution, from which the DSv2 scan derives
        * equi-height histogram bins for CBO range selectivity. */
      kll: Option[String] = None)

  final case class TableStats(
      snapshotId: Long,
      rowCount: Long,
      exactNdv: Boolean,
      columns: Seq[AnalyzedColumn],
      /** "full" | "incremental" | "noscan" — how the last pass ran. */
      mode: String = "full",
      /** Name of the content-addressed `stats-<sha>.json` metadata object
        * holding this stamp's HLL/KLL sketch blobs; None when no column
        * carries a sketch (noscan, exact-NDV-only legacy) or for legacy
        * stamps that inlined the blobs in the property. */
      sketchRef: Option[String] = None)

  /** Per-column entry of the sketches object: the blobs stripped from
    * the property form. */
  final case class SketchBlob(
      sketch: Option[String] = None,
      kll: Option[String] = None)

  private val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def toJson(s: TableStats): String = mapper.writeValueAsString(s)
  def fromJson(json: String): TableStats = mapper.readValue[TableStats](json)

  /** Persist `stats`: sketch blobs to a content-addressed metadata
    * object, scalars + ref to the `graft.stats` property. Returns the
    * HYDRATED stats (sketches attached) for the caller. Idempotent on
    * the object (same content → same name → putIfAbsent no-op), so
    * zero-job restamps stay zero-job on the object side too. */
  private def persist(table: LakeTable, stats: TableStats): TableStats = {
    val withBlobs = stats.columns.filter(c => c.sketch.isDefined || c.kll.isDefined)
    val stamped =
      if (withBlobs.isEmpty) stats.copy(sketchRef = None)
      else {
        val json = mapper.writeValueAsString(
          withBlobs.map(c => c.name -> SketchBlob(c.sketch, c.kll)).toMap)
        val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val name = "stats-" + java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).take(8).map(b => f"$b%02x").mkString + ".json"
        if (!table.metaStore.exists(name)) {
          table.metaStore.putIfAbsent(name, bytes); ()
        }
        stats.copy(sketchRef = Some(name))
      }
    val lean = stamped.copy(
      columns = stamped.columns.map(_.copy(sketch = None, kll = None)))
    table.updateProperties(_ + (PropKey -> toJson(lean)))
    stamped
  }

  // Sketches objects are immutable (content-addressed): a process-wide
  // cache keyed by (store id, name) makes per-plan hydration free after
  // the first read — the BloomSkip bundle-cache pattern.
  private val sketchCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Map[String, SketchBlob]]()

  /** [[of]] with sketch blobs re-attached from the content-addressed
    * object. Legacy inline-sketch stamps pass through unchanged. A
    * missing/corrupt sketches object degrades to scalar-only stats —
    * the planner must never crash over an optimizer hint; verify_table
    * is where the corruption gets REPORTED. */
  def hydrated(meta: TableMeta, store: MetaStore): Option[TableStats] =
    of(meta).map(attach(store, _))

  private def attach(store: MetaStore, ts: TableStats): TableStats =
    ts.sketchRef match {
      case None => ts
      case Some(ref) =>
        scala.util.Try {
          val blobs = sketchCache.computeIfAbsent((store.id, ref),
            _ => mapper.readValue[Map[String, SketchBlob]](store.read(ref)))
          ts.copy(columns = ts.columns.map { c =>
            blobs.get(c.name)
              .map(b => c.copy(sketch = b.sketch, kll = b.kll))
              .getOrElse(c)
          })
        }.getOrElse(ts)
    }

  /** [[hydrated]] over a table handle. */
  def hydrated(table: LakeTable): Option[TableStats] =
    hydrated(table.meta, table.metaStore)

  /** [[fresh]] + sketch hydration — the DSv2 scan's entry point (the
    * staleness check costs no object read; stale stats hydrate nothing). */
  def freshHydrated(meta: TableMeta, store: MetaStore,
                    snapshotId: Option[Long]): Option[TableStats] =
    fresh(meta, snapshotId).map(attach(store, _))

  /** Columns whose stats the planner can use (atomic, orderable). */
  private def analyzable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }
  private def sized(dt: DataType): Boolean =
    dt == StringType || dt == BinaryType
  /** Columns that get a KLL value-distribution sketch. */
  private def quantiled(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }
  /** KLL k: ~1.65% rank error, ~3 KB serialized at stream length 1e9. */
  val KllK = 200

  /** Same rounding as Spark's `hll_sketch_estimate`. */
  private def estimate(sketch: Array[Byte]): Long =
    Math.round(HllSketch.heapify(sketch).getEstimate)

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)
  private def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Register-max union: adds no error beyond the sketch's own (±0.8%
    * at lgK=12). The union estimate can differ from a single-pass sketch
    * by a hair when the sides straddle the sparse→dense transition —
    * same error bounds, not bit-equality (AnalyzeSpec gates the band). */
  private def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = new Union(LgK)
    u.update(HllSketch.heapify(a))
    u.update(HllSketch.heapify(b))
    u.getResult(TgtHllType.HLL_8).toUpdatableByteArray
  }

  /** ONE aggregation pass over `df` for `targets`, folding `prev`'s
    * bounds/counters in so the returned columns are already merged.
    * (`prev` empty = a plain full pass.) */
  private def pass(df: DataFrame, targets: Seq[StructField], exactNdv: Boolean,
                   prev: Map[String, AnalyzedColumn],
                   prevRows: Long): (Long, Seq[AnalyzedColumn]) = {
    val aggs = targets.flatMap { f =>
      val c = col(s"`${f.name}`")
      val p = prev.get(f.name)
      // hll_sketch_agg accepts int/bigint/string/binary only; every other
      // atomic type is sketched through its canonical string form (the
      // cast is injective per value, so distinct counts are preserved)
      val sketchable = f.dataType match {
        case IntegerType | LongType | StringType | BinaryType => c
        case _ => c.cast("string")
      }
      val ndvAgg: Column =
        if (exactNdv) count_distinct(c).cast("long")
        else hll_sketch_agg(sketchable, lit(LgK))
      // binary columns carry no bounds: CAST(binary AS STRING) is lossy
      // for invalid UTF-8, so a stored bound could not be folded back
      // losslessly on the next incremental pass
      val boundable = f.dataType != BinaryType
      val minAgg =
        if (!boundable) lit(null).cast("string")
        else p.flatMap(_.min) match {
          case Some(m) => least(min(c), lit(m).cast(f.dataType)).cast("string")
          case None => min(c).cast("string")
        }
      val maxAgg =
        if (!boundable) lit(null).cast("string")
        else p.flatMap(_.max) match {
          case Some(m) => greatest(max(c), lit(m).cast(f.dataType)).cast("string")
          case None => max(c).cast("string")
        }
      Seq(ndvAgg, sum(c.isNull.cast("long")), minAgg, maxAgg) ++
        (if (sized(f.dataType))
           Seq(sum(length(c).cast("long")),
             p.flatMap(_.maxLen) match {
               case Some(m) => greatest(max(length(c)).cast("long"), lit(m))
               case None => max(length(c)).cast("long")
             })
         else Seq.empty) ++
        (if (quantiled(f.dataType))
           Seq(graft.functions.KllQuantilesAgg(c.cast("double"), KllK))
         else Seq.empty)
    }
    val row: Row = df.agg(count(lit(1)).as("_rows"), aggs: _*).head()
    val rows = prevRows + row.getLong(0)
    var i = 1
    val cols = targets.map { f =>
      val p = prev.get(f.name)
      val (ndv, sk) =
        if (exactNdv) (Some(row.getLong(i)), None)
        else {
          // an all-null slice aggregates to a null sketch — carry the
          // prior one (or report 0 distinct when there has never been one)
          val fresh = Option(row.getAs[Array[Byte]](i))
          val merged = (p.flatMap(_.sketch).map(unb64), fresh) match {
            case (Some(old), Some(nw)) => Some(union(old, nw))
            case (old, nw) => nw.orElse(old)
          }
          (Some(merged.map(estimate).getOrElse(0L)), merged.map(b64))
        }
      val nulls = (if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)) +
        p.map(_.nullCount).getOrElse(0L)
      val mn = Option(row.get(i + 2)).map(_.toString)
      val mx = Option(row.get(i + 3)).map(_.toString)
      i += 4
      val (sl, ml) =
        if (sized(f.dataType)) {
          val sumLen = (if (row.isNullAt(i)) 0L else row.getLong(i)) +
            p.flatMap(_.sumLen).getOrElse(0L)
          val maxLen = if (row.isNullAt(i + 1)) None else Some(row.getLong(i + 1))
          i += 2
          (Some(sumLen), maxLen)
        } else (None, None)
      val kll =
        if (quantiled(f.dataType)) {
          val fresh = Option(row.getAs[Array[Byte]](i))
            .filterNot(graft.functions.KllQuantilesAgg.isEmpty)
          i += 1
          (p.flatMap(_.kll).map(unb64), fresh) match {
            case (Some(old), Some(nw)) =>
              Some(b64(graft.functions.KllQuantilesAgg.merge(old, nw, KllK)))
            case (old, nw) => nw.map(b64).orElse(old.map(b64))
          }
        } else None
      val nonNull = rows - nulls
      AnalyzedColumn(f.name, f.dataType.simpleString,
        ndv = ndv, nullCount = nulls, min = mn, max = mx,
        avgLen = sl.filter(_ => nonNull > 0).map(_ / nonNull), maxLen = ml,
        sumLen = sl, sketch = sk, kll = kll)
    }
    (rows, cols)
  }

  /** Resolve + validate the target columns against the current schema. */
  private def targetsOf(schema: StructType, columns: Seq[String],
                        table: String): Seq[StructField] =
    if (columns.isEmpty) schema.fields.toSeq.filter(f => analyzable(f.dataType))
    else columns.map { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ANALYZE: no such column '$c' in $table"))
      if (!analyzable(f.dataType)) throw new IllegalArgumentException(
        s"ANALYZE: column '$c' has un-analyzable type ${f.dataType.simpleString}")
      f
    }

  /** Full compute + persist for the CURRENT main snapshot. `columns`
    * empty = all analyzable columns; naming an un-analyzable or unknown
    * column fails loudly. Returns the persisted stats. */
  def run(table: LakeTable, columns: Seq[String] = Seq.empty,
          exactNdv: Boolean = false, noscan: Boolean = false): TableStats = {
    val snap = table.resolveSnapshot().getOrElse(
      throw new IllegalStateException(
        s"ANALYZE ${table.meta.name}: table has no snapshot"))
    val stats =
      if (noscan) {
        TableStats(snap.snapshotId, snap.files.map(_.rowCount).sum,
          exactNdv = false, columns = Seq.empty, mode = "noscan")
      } else {
        // pin the scan to the snapshot being stamped: a concurrent commit
        // (or WAP/branch session routing) must not let the stats describe
        // different bytes than their stamp claims
        val df = table.read(snapshotId = Some(snap.snapshotId))
        val targets = targetsOf(df.schema, columns, table.meta.name)
        val (rows, cols) = pass(df, targets, exactNdv, Map.empty, 0L)
        TableStats(snap.snapshotId, rows, exactNdv, cols, mode = "full")
      }
    persist(table, stats)
  }

  /** Churn-cost refresh: if everything since the stamped snapshot is
    * pure APPEND (file set grew, delete/DV sets untouched, schema
    * unchanged for the new files), scan ONLY the appended files and
    * merge — HLL union for NDV, exact folding for the rest. Anything
    * else (row removal, schema drift, expired stamp, exact-mode or
    * missing prior stats) falls back to [[run]]. Fresh stats are a
    * NO-OP: zero jobs, zero commits. */
  def incremental(table: LakeTable): TableStats = {
    val m = table.meta
    val head = table.resolveSnapshot().getOrElse(
      throw new IllegalStateException(
        s"ANALYZE ${m.name}: table has no snapshot"))
    def full(cols: Seq[String]) = run(table, cols)
    // hydrated: the merge unions the PRIOR sketches, which live in the
    // content-addressed object, not the property
    hydrated(table) match {
      case None => full(Seq.empty)
      case Some(prev) if prev.snapshotId == head.snapshotId => prev // fresh: no-op
      case Some(prev) if prev.exactNdv || prev.mode == "noscan" =>
        full(prev.columns.map(_.name))
      case Some(prev) =>
        val cols = prev.columns.map(_.name)
        def restamp(): TableStats =
          persist(table, prev.copy(snapshotId = head.snapshotId))
        // content-preserving maintenance chain (compaction, delete-file
        // rewrites — every op committed as "replace" preserves logical
        // rows by construction): the stats still describe the head's
        // content, so RESTAMP without scanning a byte
        if (m.commitsBetween(Some(prev.snapshotId), head.snapshotId).exists(
            cs => cs.nonEmpty && cs.forall(_.operation == "replace")))
          return restamp()
        m.snapshot(prev.snapshotId) match {
          case None => full(cols) // stamp expired from history
          case Some(stamped)
            // any logical row removal breaks mergeability
            if stamped.deleteFiles != head.deleteFiles ||
               stamped.eqDeleteFiles != head.eqDeleteFiles =>
            full(cols)
          case Some(stamped) =>
            val diff = CommitDiff(Some(stamped), head)
            if (diff.removed.nonEmpty) full(cols) // rewrite/CoW
            else {
              val appended = diff.added
              val schema = table.read(snapshotId = Some(head.snapshotId)).schema
              val targets =
                try targetsOf(schema, cols, m.name)
                catch { case _: IllegalArgumentException => return full(Seq.empty) }
              val typesMatch = targets.map(f => f.name -> f.dataType.simpleString) ==
                prev.columns.map(c => c.name -> c.dataType)
              if (!typesMatch) full(cols)
              else if (appended.isEmpty) restamp() // same content, newer snapshot
              else {
                val df = table.dataFrameForLive(m, Some(head), appended)
                val prevBy = prev.columns.map(c => c.name -> c).toMap
                val (rows, merged) =
                  pass(df, targets, exactNdv = false, prevBy, prev.rowCount)
                persist(table, TableStats(head.snapshotId, rows,
                  exactNdv = false, merged, mode = "incremental"))
              }
            }
        }
    }
  }

  /** The persisted stats, if any. */
  def of(meta: TableMeta): Option[TableStats] =
    meta.properties.get(PropKey).map(fromJson)

  /** The persisted stats ONLY if they describe `snapshotId` — what the
    * DSv2 scan reports to the planner (stale stats would mis-estimate
    * join cardinalities in the wrong direction silently). */
  def fresh(meta: TableMeta, snapshotId: Option[Long]): Option[TableStats] =
    of(meta).filter(s => snapshotId.contains(s.snapshotId))
}
