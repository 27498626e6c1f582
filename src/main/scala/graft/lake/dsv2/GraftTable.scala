package graft.lake.dsv2

import graft.lake.{LakeTable, MetaAggregate, MetadataTables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DSv2 face of a [[LakeTable]] — the SQL-native access path the reference
  * exercises in every notebook cell (`%%sql` against the Iceberg catalog,
  * spark-defaults.conf:22-29).
  *
  * Reads: the table declares BATCH_READ but scan planning is handled by
  * [[GraftReadRule]], which substitutes the relation with the LakeTable
  * read plan (parquet scan of the pruned snapshot file list, with
  * rename/widen mapping) — so SQL reads get the exact same semantics and
  * pushdown as the Scala API. `pinned*` carry time travel (`VERSION AS
  * OF` / `TIMESTAMP AS OF` / branch-suffix identifiers).
  *
  * Writes: V1Write fallback → InsertableRelation → LakeTable.append, which
  * honors WAP session confs. DELETE FROM → SupportsDelete with the same
  * metadata-only fast path as the Scala API.
  */
case class GraftTable(
    lakeTable: LakeTable,
    identName: String,
    pinnedSnapshotId: Option[Long] = None,
    pinnedBranch: Option[String] = None,
    pinnedTimestampMs: Option[Long] = None,
    metaKind: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = identName

  /** Active SQL-transaction WRITE routing ([[graft.lake.SqlTransactions]]):
    * while the session carries `spark.graft.txn.id`, every write stages on
    * the transaction's branch through its [[graft.lake.TxnTable]] (fork
    * point recorded) instead of committing to main. Pinned identifiers and
    * path tables refuse — silently writing main inside a transaction would
    * break its all-or-nothing contract. */
  private[dsv2] def txnRoute: Option[graft.lake.TxnTable] = {
    // key on the session's txn CONF, not on a live lookup: a dangling id
    // (the JVM that began it died) must fail the write loudly in route(),
    // never silently fall through to main
    if (graft.lake.SqlTransactions.activeId(lakeTable.spark).isEmpty) None
    else {
      require(!identName.contains("`"),
        s"path-based table $identName cannot participate in a SQL " +
          "transaction (no catalog identity to enlist) — use a catalog table")
      require(pinnedBranch.isEmpty && pinnedSnapshotId.isEmpty &&
        pinnedTimestampMs.isEmpty,
        s"cannot write to a pinned version/branch of $identName inside a " +
          "SQL transaction — writes stage on the transaction branch")
      val routed = graft.lake.SqlTransactions.route(lakeTable.spark, identName)
      // route() resolves the ident against the catalog the transaction
      // BEGAN on — with two graft catalogs registered, a same-named table
      // in the other catalog would silently enlist (and stage onto) the
      // wrong physical table. The location is the physical identity:
      // verify it and fail loudly on a mismatch.
      routed.foreach { tt =>
        require(tt.table.location == lakeTable.location,
          s"write to $identName at ${lakeTable.location} inside the " +
            s"active SQL transaction, but the transaction (begun on a " +
            s"different catalog) resolves $identName to " +
            s"${tt.table.location} — cross-catalog writes inside one " +
            "transaction are not supported; COMMIT/ROLLBACK first or " +
            "write through the transaction's own catalog")
      }
      routed
    }
  }

  /** Branch reads resolve against: the pinned branch, or — inside an
    * active SQL transaction that has WRITTEN this table — the staged txn
    * branch (read-your-writes). Untouched tables keep reading main. */
  private[dsv2] def effectiveBranch: Option[String] =
    pinnedBranch.orElse(
      if (pinnedSnapshotId.isDefined || pinnedTimestampMs.isDefined) None
      else graft.lake.SqlTransactions.readBranch(lakeTable.spark, identName,
        Some(lakeTable.location)))

  /** Snapshot reads resolve against: the pinned snapshot id (`VERSION AS
    * OF`), or — inside an active SQL transaction running with
    * `spark.graft.txn.repeatable-read=true` — the snapshot this table's
    * FIRST in-transaction read observed (0 = was empty), so a foreign
    * commit mid-transaction stays invisible to the transaction's reads.
    * Read-your-writes wins for tables the transaction has written
    * ([[SqlTransactions.readPin]] yields None there; [[effectiveBranch]]
    * routes the staged branch). Explicit time-travel pins opt OUT of the
    * repeatable-read pin — the user asked for a specific version. */
  private[dsv2] def effectiveSnapshotId: Option[Long] =
    pinnedSnapshotId.orElse(
      if (pinnedBranch.isDefined || pinnedTimestampMs.isDefined ||
        metaKind.isDefined) None
      else graft.lake.SqlTransactions.readPin(lakeTable, identName))

  /** (groupBy, aggs) when this table is a materialized-view STATE table —
    * such tables READ as the finalized view, never as raw merge state. */
  private def ivmSpec = graft.lake.MaterializedAgg.viewSpec(lakeTable.meta.properties)

  override def schema(): StructType = metaKind match {
    case Some(k) => MetadataTables(lakeTable, k).schema
    case None => ivmSpec match {
      case Some((g, a)) =>
        // finalized schema from an EMPTY state frame — no IO
        graft.lake.MaterializedAgg.presentState(
          lakeTable.spark.createDataFrame(
            new java.util.ArrayList[Row](), lakeTable.meta.schema.sparkSchema),
          g, a).schema
      case None => lakeTable.meta.schema.sparkSchema
    }
  }

  /** The DataFrame this table reads as (used by GraftReadRule). */
  def readDataFrame(): DataFrame = metaKind match {
    case Some(k) => lakeTable.metadataTable(k)
    case None =>
      val raw = lakeTable.read(effectiveSnapshotId, effectiveBranch, pinnedTimestampMs)
      ivmSpec.fold(raw) { case (g, a) =>
        graft.lake.MaterializedAgg.presentState(raw, g, a) }
  }

  /** The rows of a metadata-only aggregate over this table
    * ([[graft.lake.MetaAggregate]]), against the snapshot reads resolve —
    * time travel, WAP and transaction read pins hold. None (→ scan) for
    * metadata tables and whenever metadata cannot answer exactly. An MV
    * state table's presentation is one view row per state row, so its
    * counts and pass-through columns answer as the state's. */
  def metadataAggregate(groupBy: Option[String],
                        aggs: Seq[MetaAggregate.Agg]): Option[Seq[InternalRow]] =
    if (metaKind.isDefined) None
    else MetaAggregate(lakeTable.meta,
      lakeTable.resolveSnapshot(effectiveSnapshotId, effectiveBranch, pinnedTimestampMs),
      groupBy, aggs)

  override def partitioning(): Array[Transform] = {
    val m = lakeTable.meta
    m.spec.fields.flatMap { f =>
      m.schema.byId(f.sourceId).map { src =>
        f.transform match {
          case "identity" => Expressions.identity(src.name)
          case "days" => Expressions.days(src.name)
          case "hours" => Expressions.hours(src.name)
          case "months" => Expressions.months(src.name)
          case "years" => Expressions.years(src.name)
          case b if b.startsWith("bucket[") =>
            Expressions.bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt, src.name)
          case other => Expressions.apply(other, Expressions.column(src.name))
        }
      }
    }.toArray
  }

  override def properties(): util.Map[String, String] = {
    val m = lakeTable.meta
    (m.properties ++ Map(
      "provider" -> "graft-lake",
      "location" -> m.location,
      "format" -> "graft/parquet",
      "current-snapshot-id" -> m.currentSnapshot.map(_.snapshotId.toString).getOrElse("none")
    )).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** CHECK constraints (Spark 4 constraints framework): surfaced from
    * table properties so Spark's ResolveTableConstraints injects
    * row-level CheckInvariant enforcement into every SQL write — zero
    * engine-side passes; a violating INSERT fails before the commit.
    * The Scala write paths enforce the same properties themselves
    * (LakeTable.withCheckConstraints), so both routes agree. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val prefix = "graft.constraint."
    val statusPrefix = "graft.constraint-status."
    val props = lakeTable.meta.properties
    props.toSeq.collect {
      case (k, sql) if k.startsWith(prefix) =>
        val cname = k.stripPrefix(prefix)
        val status =
          if (props.get(statusPrefix + cname).contains("VALID"))
            Constraint.ValidationStatus.VALID
          else Constraint.ValidationStatus.UNVALIDATED
        Constraint.check(cname).predicateSql(sql)
          .enforced(true).validationStatus(status).build()
          .asInstanceOf[Constraint]
    }.sortBy(_.name()).toArray
  }

  // ---- reads (V1Scan fallback) --------------------------------------------
  //
  // [[GraftReadRule]] substitutes this relation with the LakeTable read
  // plan when the session carries GraftExtensions (full-speed path). When
  // it doesn't (runtime-registered catalog), this V1Scan serves reads:
  // pushed filters reach LakeTable.read (file-level stats/partition
  // pruning + row filter) and pruned columns reach the parquet scan, so
  // the 100 TB behaviors survive the fallback; the only cost is one
  // InternalRow→Row conversion at the boundary.

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // storage-partitioned-join mode (GraftSpj scaladoc): bucket-partitioned
    // tables get the real batch scan, which reports KeyGroupedPartitioning
    // so co-bucketed joins plan with no Exchange on either side
    if (GraftSpj.active(lakeTable.spark) && GraftSpj.eligible(this))
      new GraftBatchScanBuilder(lakeTable.spark, this)
    else newV1ScanBuilder
  }

  private def newV1ScanBuilder: ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = schema()

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        if (metaKind.isEmpty) pushed = filters.filter(filterToColumn(_).isDefined)
        filters // all filters stay as residuals — pruning may keep extra rows
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            // real statistics from the snapshot's file list: without this
            // the default (spark.sql.defaultSizeInBytes = huge) makes the
            // planner refuse to broadcast small lake tables in joins
            override def sizeInBytes: Long = {
              val files = lakeTable.resolveSnapshot(effectiveSnapshotId,
                pinnedBranch, pinnedTimestampMs).map(_.files).getOrElse(Seq.empty)
              math.max(1L, files.map(_.sizeBytes).sum)
            }
            override def buildScan(): RDD[Row] = {
              val cond = pushed.flatMap(filterToColumn).reduceOption(_ && _)
              val base = metaKind match {
                case Some(k) => lakeTable.metadataTable(k)
                // MV state tables present the finalized view; pushed
                // filters reference VIEW columns, so they apply after the
                // presentation projection, not at the raw state scan
                case None if ivmSpec.isDefined =>
                  val (g, a) = ivmSpec.get
                  val v = graft.lake.MaterializedAgg.presentState(
                    lakeTable.read(effectiveSnapshotId, effectiveBranch, pinnedTimestampMs),
                    g, a)
                  cond.map(v.filter).getOrElse(v)
                case None => lakeTable.read(effectiveSnapshotId, effectiveBranch,
                  pinnedTimestampMs, filter = cond)
              }
              val projected =
                if (required.isEmpty) base.select() // zero-column rows (count-only scans)
                else base.select(required.fieldNames.map(col).toIndexedSeq: _*)
              projected.rdd
            }
          }
          rel.asInstanceOf[T]
        }
      }
    }

  // ---- writes (INSERT INTO / INSERT OVERWRITE / df.writeTo) ---------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(metaKind.isEmpty, s"metadata table $identName is read-only")
    require(ivmSpec.isEmpty,
      s"$identName is a materialized view — it is refreshed from its base " +
        "table (REFRESH MATERIALIZED VIEW), never written directly")
    require(pinnedSnapshotId.isEmpty && pinnedTimestampMs.isEmpty,
      s"cannot write to a time-travel snapshot of $identName")
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            // INSERT OVERWRITE must be ONE atomic commit — truncate+append
            // would expose an empty intermediate snapshot to readers and a
            // failure between the two would lose the table.
            txnRoute match {
              case Some(tt) =>
                if (overwriteAll) tt.overwrite(data) else tt.append(data)
              case None =>
                if (overwriteAll) lakeTable.overwrite(data, toBranch = pinnedBranch)
                else lakeTable.append(data, toBranch = pinnedBranch)
            }
            ()
          }
      }
    }
  }

  // ---- DELETE FROM ---------------------------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    metaKind.isEmpty && ivmSpec.isEmpty &&
      filters.forall(filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedSnapshotId.isEmpty && pinnedTimestampMs.isEmpty,
      s"cannot DELETE from a time-travel snapshot of $identName")
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // a branch-suffixed identifier (db.t.branch_x) pins the write target:
    // without this the delete would silently land on main
    graft.lake.LakeTable.withConflictRetry() {
      txnRoute match {
        case Some(tt) => tt.delete(cond)
        case None => lakeTable.delete(cond, toBranch = pinnedBranch)
      }
    }
    ()
  }

  /** V1 source Filter → Column (top-level attributes only; None = cannot
    * translate, which makes canDeleteWhere reject the pushdown). */
  private[dsv2] def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
