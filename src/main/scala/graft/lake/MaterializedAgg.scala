package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate (materialized view) over a lake
  * table: the canonical way to keep a dashboard/report aggregate fresh
  * over a 100 TB base table at CHURN cost instead of recompute cost.
  * The reference keeps such aggregates fresh by replaying its changelog
  * stream into an external store (IcebergStream.java's merge loop); here
  * the view is itself a lake table and refresh is one atomic commit.
  *
  * State: one row per group, holding the group-by columns, a stable
  * merge key (`_ivm_key`, JSON of the group tuple — null-safe and
  * composite-safe), a live-row count (`_ivm_rows`, retires groups whose
  * last row is deleted), and one state column per aggregate (sum+count
  * for AVG so it merges; MIN/MAX store the current extreme).
  *
  * Refresh (incremental view maintenance, the classic abelian-group
  * algorithm — e.g. Larson & Zhou, "Efficient Maintenance of
  * Materialized Outer-Join Views", ICDE'07 lineage):
  *   1. `changelog(watermark, head)` — churn-sized, file-set-pruned
  *      (cost ∝ what changed, never table size);
  *   2. signed per-group delta in ONE aggregation: +row for
  *      INSERT/UPDATE_AFTER, −row for DELETE/UPDATE_BEFORE — so
  *      COUNT/SUM/AVG merge algebraically;
  *   3. MIN/MAX merge algebraically for groups that only gained rows
  *      (`least/greatest(old, batchMin)`); a group that LOST rows may
  *      have lost its extreme, which no summary can recover — those
  *      groups (and only those) are recomputed from the base table
  *      AS OF the refresh head, semi-joined to the affected keys;
  *   4. one [[LakeTable.mergeByKeys]] commit rewrites exactly the
  *      affected groups' state rows and records the new watermark in
  *      the SAME commit's summary (`graft.ivm.base-snapshot`) — a crash
  *      leaves either the old view+watermark or the new, never a torn
  *      mix, and a re-run refresh is a harmless no-op.
  *
  * Scale shape: the delta aggregation is map-side combined on the group
  * key; the state merge rewrites only files whose key bounds overlap
  * the batch (mergeByKeys pruning); the MIN/MAX fallback scan is
  * filter-pushed on the group key and only runs when a tracked extreme
  * might have regressed. Compaction commits on the base are invisible
  * (CoW survivors cancel in the changelog) — refresh across them just
  * advances the watermark.
  *
  * Star-schema views (r9): `dims` enriches every fact row with broadcast
  * dimension lookups BEFORE aggregation, so the view can group by / sum
  * over dimension attributes ("revenue by region" over a lineitem-sized
  * fact). The delta algebra stays exact because the enrichment is a
  * DETERMINISTIC function of the fact row while the dimensions are
  * frozen: a deleted fact row re-enriches to exactly the rows its insert
  * produced, so signs cancel. That determinism is the load-bearing
  * assumption, and it is ENFORCED, not hoped for: each refresh checks the
  * dimensions' current snapshot ids against the ids recorded when the
  * view was (re)built and refuses to apply deltas across a dimension
  * change — a -U enriched with a post-change dimension would not cancel
  * its +I and the state would silently corrupt. After a dimension change,
  * [[rebuild]] recreates the state from scratch (replaying the base
  * changelog from the beginning through the NEW dimension contents).
  * Refresh cost is still churn-sized: the dimension broadcast is the same
  * small-side join every star query pays.
  */
final class MaterializedAgg private[lake] (
    val state: LakeTable, base: LakeTable,
    val groupBy: Seq[String], val aggs: Seq[MaterializedAgg.AggCol],
    catalog: LakeCatalog = null,
    dims: Seq[(MaterializedAgg.DimJoin, LakeTable)] = Seq.empty) {
  import MaterializedAgg._

  private def enrich(df: DataFrame): DataFrame = enrichWith(df, dims)

  private def spark = state.spark

  /** The snapshot of the base table this view currently reflects: the
    * most recent state commit carrying a refresh marker (state-table
    * housekeeping like compaction does not disturb it). */
  def watermark: Option[Long] = MaterializedAgg.watermarkOf(state)

  /** Bring the view up to the base table's current head (or an explicit
    * `toSnapshotId`). Returns the new watermark; no-op (and NO new
    * commit) when already current. */
  def refresh(toSnapshotId: Option[Long] = None): Option[Long] = {
    // dim guard FIRST, even when there is no fact churn to apply: the
    // view is stale against a mutated dimension either way, and a silent
    // no-op "refresh" would misreport it as current
    if (dims.nonEmpty) {
      val recorded = state.meta.properties.get(DimSnapshotsKey)
      val current = dimSnapshots(dims)
      if (!recorded.contains(current))
        throw new IllegalStateException(
          s"materialized view ${state.meta.name}: a dimension table changed " +
            s"(recorded ${recorded.getOrElse("<none>")}, current $current); " +
            "incremental deltas against a mutated dimension are unsound — " +
            "call rebuild() to recompute the view against the new contents")
    }
    val head = toSnapshotId.orElse(base.meta.currentSnapshot.map(_.snapshotId))
    val from = watermark
    if (head.isEmpty || head == from) return from
    val to = head.get
    // a retention-stranded watermark (its snapshot expired, or main
    // rolled back past it) can never resume incrementally: overlaying a
    // from-genesis delta over the EXISTING state would double-count, so
    // — unlike the presence-based secondary indexes, which self-heal —
    // the only sound recovery is a rebuild. Fail naming it, not with the
    // changelog's bare `not an ancestor` require.
    from.filterNot(f => base.isAncestorRetained(f, to)).foreach { f =>
      throw new IllegalStateException(
        s"materialized view ${state.meta.name}: refresh watermark $f is no " +
          s"longer an ancestor of base snapshot $to — the snapshot was " +
          "removed by expire_snapshots or left main via a rollback, so " +
          "incremental deltas cannot resume. Recovery: call rebuild() to " +
          "recompute the view from the current base contents (query routing " +
          "already declines this view soundly). Prevention: ingest-cadence " +
          "auto-expiry floors its retention at registered view/index " +
          "watermarks; keep manual expire_snapshots retention longer than " +
          "the view's maximum staleness.")
    }
    val (delta, merged) = deltaMerge(from, to, pin = true, skipRescan = false)
    try state.mergeByKeys(KeyCol, delta.select(KeyCol), merged,
      extraSummary = Map(WatermarkKey -> to.toString))
    finally graft.Materialize.release(delta)
    Some(to)
  }

  /** The signed-delta application for the base window `(from, to]`: the
    * per-group delta frame (keyed by [[KeyCol]] — its key set IS the set
    * of affected groups) and those groups' NEW state rows in state-schema
    * column order. [[refresh]] commits these via mergeByKeys;
    * stale-route compensation ([[compensatedState]]) overlays them over
    * the committed state read-side, without committing. `pin` holds the
    * delta through [[graft.Materialize]] — worth it on the write path,
    * where the commit machinery consumes it twice (the caller releases
    * it); the read path stays unpinned (the churn-sized delta just
    * recomputes inside one query).
    * `skipRescan` elides the lost-extreme base rescan; callers must
    * first prove the window loss-free or the view MIN/MAX-free. */
  private def deltaMerge(from: Option[Long], to: Long, pin: Boolean,
                         skipRescan: Boolean): (DataFrame, DataFrame) = {
    val keyCol = jsonKey(groupBy)
    val cl = enrich(base.changelog(from, to))
    val sign = when(col("_change_type").isin("INSERT", "UPDATE_AFTER"), 1L)
      .otherwise(-1L)
    // one signed, map-side-combined pass over the churn
    val deltaAggs: Seq[Column] =
      sum(sign).as(RowsCol) +: aggs.flatMap { a =>
        // COUNT(*) counts rows, not non-nulls: its delta is the bare sign
        if (a.isStar) Seq(sum(sign).as(a.alias))
        else {
        val c = col(a.column)
        a.func match {
          case "count" => Seq(sum(when(c.isNotNull, sign).otherwise(0L)).as(a.alias))
          // SUM and AVG both carry a hidden non-null count: SUM over a
          // group whose last non-null value was deleted is NULL, not the
          // accumulator's 0 — only the count can tell those apart
          case "sum" | "avg" => Seq(
            sum(when(c.isNotNull, sign).otherwise(lit(null)) * c).as(sumCol(a.alias)),
            sum(when(c.isNotNull, sign).otherwise(0L)).as(cntCol(a.alias)))
          case "min" => Seq(min(when(sign > 0, c)).as(a.alias))
          case "max" => Seq(max(when(sign > 0, c)).as(a.alias))
        }
        }
      }
    val needsRescan = !skipRescan &&
      aggs.exists(a => a.func == "min" || a.func == "max")
    val lostExtras: Seq[Column] =
      if (needsRescan) Seq(max(when(sign < 0, 1L).otherwise(0L)).as(LostCol)) else Seq.empty
    val deltaRaw = cl
      .groupBy((keyCol.as(KeyCol) +: groupBy.map(col)): _*)
      .agg(deltaAggs.head, (deltaAggs.tail ++ lostExtras): _*)
    // write path: consumed by the join below AND as the merge key set
    val delta = if (pin) graft.Materialize(deltaRaw) else deltaRaw

    val old = state.toDF
    val joined = delta.as("d").join(old.as("o"), col("d." + KeyCol) === col("o." + KeyCol), "left")
    val mergedRows = (coalesce(col("o." + RowsCol), lit(0L)) + col("d." + RowsCol)).as(RowsCol)
    val mergedAggs: Seq[Column] = aggs.flatMap { a =>
      def add(name: String) = (coalesce(col("o." + name), lit(0L).cast(old.schema(name).dataType))
        + coalesce(col("d." + name), lit(0L).cast(delta.schema(name).dataType))).as(name)
      a.func match {
        case "count" => Seq(add(a.alias))
        case "sum" | "avg" => Seq(add(sumCol(a.alias)), add(cntCol(a.alias)))
        // least/greatest skip nulls, so a group new to either side merges
        // correctly; the lost-extreme case is overridden by the rescan below
        case "min" => Seq(least(col("o." + a.alias), col("d." + a.alias)).as(a.alias))
        case "max" => Seq(greatest(col("o." + a.alias), col("d." + a.alias)).as(a.alias))
      }
    }
    var merged = joined.select(
      (col("d." + KeyCol).as(KeyCol) +: groupBy.map(g => col("d." + g).as(g)) :+
        mergedRows) ++ mergedAggs: _*)
      .filter(col(RowsCol) > 0)

    if (needsRescan) {
      // groups that lost rows: their MIN/MAX may have left the table —
      // recompute those extremes (only) from the base AS OF the head,
      // semi-joined on the group COLUMNS (null-safe) so the scan can be
      // runtime-filtered/pruned on real columns, not a derived key
      val lostKeys = delta.filter(col(LostCol) === 1L)
        .select(groupBy.map(g => col(g).as("_lk_" + g)): _*)
      val extremes = aggs.filter(a => a.func == "min" || a.func == "max")
      // dim-grouped views enrich before the semi-join (the group columns
      // may live on the dimension side)
      val rescan = enrich(base.read(snapshotId = Some(to)))
        .join(lostKeys, groupBy.map(g => col(g) <=> col("_lk_" + g)).reduce(_ && _), "left_semi")
        .groupBy(groupBy.map(col): _*)
        .agg(extremes.head.fn, extremes.tail.map(_.fn): _*)
        .withColumn(RescanCol, lit(1L))
      // a surviving lost group ALWAYS has a rescan row (rows > 0 ⇒ rows
      // exist at `to`), so the marker — not value nullness — decides:
      // rescan min=NULL legitimately means "no non-null values remain"
      val rescanned = merged.as("m")
        .join(rescan.as("r"),
          groupBy.map(g => col("m." + g) <=> col("r." + g)).reduce(_ && _), "left")
        .select((col("m." + KeyCol).as(KeyCol) +: groupBy.map(g => col("m." + g).as(g)) :+
          col("m." + RowsCol).as(RowsCol)) ++ aggs.flatMap { a =>
          a.func match {
            case "min" | "max" => Seq(
              when(col("r." + RescanCol).isNotNull, col("r." + a.alias))
                .otherwise(col("m." + a.alias)).as(a.alias))
            case "sum" | "avg" => Seq(col("m." + sumCol(a.alias)).as(sumCol(a.alias)),
              col("m." + cntCol(a.alias)).as(cntCol(a.alias)))
            case _ => Seq(col("m." + a.alias).as(a.alias))
          }
        }: _*)
      merged = rescanned
    }
    (delta, merged.select(stateCols(old): _*))
  }

  /** Read-side compensation for stale-tolerant MV routing
    * ([[graft.lake.dsv2.GraftMvRoute]]): the FULL state contents as the
    * view would hold them after a refresh to base snapshot `to`,
    * computed by overlaying the `(watermark, to]` signed delta over the
    * committed state WITHOUT committing — unchanged groups pass through
    * an anti-join, affected groups come from the delta merge. Cost is
    * churn-shaped: state-table-sized anti-join + file-set-pruned
    * changelog, never a base scan. None when compensation is unsound or
    * uneconomical:
    *   - never-refreshed view (replaying from genesis ≈ the full scan
    *     routing is meant to avoid);
    *   - a dimension moved off its recorded snapshot (deltas against a
    *     mutated dimension are unsound — same guard as [[refresh]]);
    *   - a MIN/MAX view over a window that removed rows (positional or
    *     equality deletes, CoW rewrites): the lost extreme needs a base
    *     rescan, which routing refuses to pay — proven loss-free at the
    *     metadata level by [[LakeTable.windowLossFree]], zero data I/O;
    *   - a window spanning more than `maxCommits` commits: the changelog
    *     unions one per-commit diff, so a weeks-stale view would build an
    *     enormous plan and likely cost more than the scan it replaces —
    *     the router passes `graft.mv.route.compensate.max-commits`
    *     (default 64) and long-stale views fall back to the scan. */
  private[graft] def compensatedState(to: Long,
                                      maxCommits: Int = 64): Option[DataFrame] = {
    val from = watermark
    if (from.isEmpty) return None
    if (from.contains(to)) return Some(state.toDF)
    // commit-count walk of at most `maxCommits` steps: metadata-only,
    // bails (None) when `from` is not an ancestor of `to` — the changelog
    // would throw there anyway
    val bm = base.meta
    if (!bm.ancestry(bm.snapshot(to)).zipWithIndex.takeWhile(_._2 <= maxCommits)
        .exists { case (s, _) => from.contains(s.snapshotId) }) return None
    if (dims.nonEmpty &&
        !state.meta.properties.get(DimSnapshotsKey).contains(dimSnapshots(dims)))
      return None
    if (aggs.exists(a => a.func == "min" || a.func == "max") &&
        !base.windowLossFree(from.get, to)) return None
    val (delta, merged) = deltaMerge(from, to, pin = false, skipRescan = true)
    val old = state.toDF
    Some(old.join(delta.select(KeyCol), Seq(KeyCol), "left_anti")
      .unionByName(merged))
  }

  /** The view's current contents with FINAL aggregate values (AVG
    * divided out as DOUBLE), ordered like a fresh groupBy would be. */
  def read(): DataFrame = presentState(state.toDF, groupBy, aggs)

  private def stateCols(old: DataFrame): Seq[Column] =
    old.schema.fieldNames.toSeq.map(col)

  /** Recreate the view from scratch against the dimensions' CURRENT
    * contents — the required (and refused-until-taken) step after a
    * dimension change. Drops and recreates the state table, then replays
    * the base changelog from the beginning (the initial build IS the
    * incremental path). Returns the fresh view — this instance is stale
    * after the call. */
  def rebuild(): MaterializedAgg = {
    require(catalog != null, "rebuild() requires the view's catalog (create/load it via MaterializedAgg)")
    val ident = state.meta.name
    catalog.dropTable(ident)
    val fresh = MaterializedAgg.create(catalog, ident, base, groupBy, aggs, dims.map(_._1))
    fresh.refresh()
    fresh
  }
}

object MaterializedAgg {
  /** One aggregate column of the view: `func` ∈ count|sum|avg|min|max
    * over base column `column`, exposed as `alias`. `column = "*"` (legal
    * for count only) is COUNT(*): rows, not non-null values. */
  final case class AggCol(func: String, column: String, alias: String) {
    require(Set("count", "sum", "avg", "min", "max")(func),
      s"unsupported aggregate '$func' (count|sum|avg|min|max)")
    require(column != "*" || func == "count",
      s"'*' argument is only legal for count, not $func")
    private[graft] def isStar: Boolean = column == "*"
    private[lake] def fn: Column = func match {
      case "min" => min(col(column)).as(alias)
      case "max" => max(col(column)).as(alias)
      case _ => throw new IllegalStateException(s"no rescan for $func")
    }
  }

  /** One broadcast dimension lookup enriching the fact stream:
    * `fact.factKey = dim.dimKey`, `kind` ∈ inner|left (inner drops
    * unmatched facts — still delta-exact, since an unmatched fact is
    * unmatched for both its insert and its delete while the dimension is
    * frozen). The dimension must be a lake table in the view's catalog
    * (its snapshot id is what the refresh guard pins). */
  final case class DimJoin(dimIdent: String, factKey: String, dimKey: String,
                           kind: String = "inner") {
    require(Set("inner", "left")(kind), s"dim join kind must be inner|left: $kind")
  }

  private[lake] def enrichWith(df: DataFrame,
                               dims: Seq[(DimJoin, LakeTable)]): DataFrame =
    dims.foldLeft(df) { case (acc, (dj, dimT)) =>
      val d = dimT.toDF
      acc.join(broadcast(d), acc(dj.factKey) === d(dj.dimKey), dj.kind)
        .drop(d(dj.dimKey))
    }

  private[lake] def dimSnapshots(dims: Seq[(DimJoin, LakeTable)]): String =
    dims.map(_._2.meta.currentSnapshot.map(_.snapshotId).getOrElse(-1L)).mkString(",")

  /** Finalized-view projection over a state frame: group columns + final
    * aggregate values (AVG divided out as DOUBLE; SUM/AVG of zero
    * non-null values are NULL, not the accumulator's 0). Shared by
    * [[MaterializedAgg.read]] and the DSv2 presentation of an MV table
    * (`SELECT * FROM lake.db.mv` shows the VIEW, not the merge state). */
  private[graft] def presentState(stateDf: DataFrame, groupBy: Seq[String],
                                  aggs: Seq[AggCol]): DataFrame = {
    val finals = aggs.map { a =>
      a.func match {
        case "avg" =>
          when(col(cntCol(a.alias)) === 0L, lit(null))
            .otherwise(col(sumCol(a.alias)).cast("double") / col(cntCol(a.alias)))
            .as(a.alias)
        case "sum" =>
          when(col(cntCol(a.alias)) === 0L, lit(null))
            .otherwise(col(sumCol(a.alias))).as(a.alias)
        case _ => col(a.alias)
      }
    }
    stateDf.select(groupBy.map(col) ++ finals: _*)
  }

  /** (groupBy, aggs) when the properties mark a materialized-view state
    * table, None for ordinary tables. */
  private[graft] def viewSpec(props: Map[String, String]): Option[(Seq[String], Seq[AggCol])] =
    props.get("graft.ivm.aggs").map { aggsStr =>
      (props("graft.ivm.group-by").split(",").toSeq,
        aggsStr.split(";").toSeq.map { s =>
          val Array(f, c, a) = s.split(":", 3); AggCol(f, c, a)
        })
    }

  /** The star view's recorded dimension joins (`graft.ivm.dims`), in
    * fold order; empty for a dim-free view. */
  private[graft] def dimsOf(props: Map[String, String]): Seq[DimJoin] =
    props.get(DimsKey).toSeq.flatMap(_.split(";")).map { s =>
      val Array(d, fk, dk, k) = s.split("\\|", 4); DimJoin(d, fk, dk, k)
    }

  /** [[MaterializedAgg#watermark]] for a state table loaded by location
    * (the query-routing rule has no MaterializedAgg instance). */
  private[graft] def watermarkOf(state: LakeTable): Option[Long] =
    state.meta.latestSummary(WatermarkKey).map(_.toLong)

  private[lake] val KeyCol = "_ivm_key"
  private[lake] val RowsCol = "_ivm_rows"
  private[lake] val LostCol = "_ivm_lost"
  private[lake] val RescanCol = "_ivm_rescanned"
  private[lake] val WatermarkKey = "graft.ivm.base-snapshot"
  private[lake] val DimSnapshotsKey = "graft.ivm.dim-snapshots"
  private[lake] val DimsKey = "graft.ivm.dims"
  /** Property on the STATE table: location of the base table the view
    * aggregates. */
  private[graft] val BaseLocKey = "graft.ivm.base-location"
  /** Property on the BASE table: ';'-joined state-table locations of the
    * views maintained over it, read and edited through [[Links]] — the
    * discovery index for automatic query routing
    * ([[graft.lake.dsv2.GraftMvRoute]]). Best-effort pointers:
    * the router re-validates existence, spec, and freshness at use, so a
    * stale entry (view dropped outside the SQL DDL) is just skipped. */
  private[graft] val ViewsKey = "graft.ivm.views"
  /** Refresh-health record on the STATE table, written by the streaming
    * auto-refresh loop ([[graft.streaming.Changelog.refreshRegisteredViews]])
    * when a refresh attempt fails (e.g. a star view refused over a
    * mutated dimension until rebuild): consecutive-failure count, last
    * error message, and when it happened. Cleared by the next successful
    * refresh; [[MaterializedAgg.rebuild]] recreates the state table and
    * so clears it too. Surfaced per view by the base table's
    * `materialized_views` metadata table — the operator-visible signal
    * that routing has silently degraded to cold. */
  private[graft] val FailuresKey = "graft.ivm.refresh-failures"
  private[graft] val LastErrorKey = "graft.ivm.last-error"
  private[graft] val LastErrorAtKey = "graft.ivm.last-error-at"
  private[lake] def sumCol(alias: String) = alias + "__sum"
  private[lake] def cntCol(alias: String) = alias + "__cnt"

  /** Null-safe composite merge key: JSON of the group tuple in declared
    * order (`ignoreNullFields=false` so a NULL group key is a distinct,
    * stable group — to_json would otherwise drop the field and collide
    * it with other null-shaped groups). */
  private[lake] def jsonKey(groupBy: Seq[String]): Column =
    to_json(struct(groupBy.map(col): _*), Map("ignoreNullFields" -> "false"))

  /** Create the state table for a view over `base` and return the view
    * (initially empty — run [[MaterializedAgg.refresh]] to build it; the
    * initial build IS the incremental path, a changelog from the table's
    * beginning). The spec is recorded in table properties, so the view
    * reloads by name via [[load]]. */
  def create(catalog: LakeCatalog, ident: String, base: LakeTable,
             groupBy: Seq[String], aggs: Seq[AggCol],
             dims: Seq[DimJoin] = Seq.empty): MaterializedAgg = {
    require(groupBy.nonEmpty, "at least one group-by column")
    require(aggs.nonEmpty, "at least one aggregate")
    val names = aggs.flatMap(a => a.func match {
      case "sum" | "avg" => Seq(sumCol(a.alias), cntCol(a.alias))
      case _ => Seq(a.alias)
    })
    require(names.distinct.size == names.size, s"duplicate aliases: $names")
    val reserved = groupBy.toSet ++ Set(KeyCol, RowsCol, RescanCol)
    require(names.forall(!reserved(_)),
      s"aggregate aliases may not collide with group-by or internal columns: $names")
    // resolve dims and check column disjointness: a dim attribute that
    // shadows a fact column would silently change every reference to it
    val resolved: Seq[(DimJoin, LakeTable)] = dims.map { dj =>
      val dimT = catalog.loadTable(dj.dimIdent)
      require(dimT.meta.schema.byName(dj.dimKey).isDefined,
        s"dim ${dj.dimIdent} has no column ${dj.dimKey}")
      require(base.meta.schema.byName(dj.factKey).isDefined,
        s"base table has no column ${dj.factKey}")
      dj -> dimT
    }
    val factCols = base.meta.schema.columns.map(_.name).toSet
    val carried = resolved.flatMap { case (dj, dimT) =>
      dimT.meta.schema.columns.map(_.name).filter(_ != dj.dimKey) }
    require(carried.distinct.size == carried.size &&
        carried.forall(c => !factCols(c) && c != "_change_type"),
      s"dimension columns must be disjoint from fact and changelog columns: $carried")
    // state schema = what one refresh would produce: derive it from an
    // empty frame with the base schema (dim-enriched) so sum/min types
    // match Spark's own aggregate result types (sum(INT)=LONG,
    // sum(DECIMAL(p,s))=(p+10,s))
    val empty = enrichWith(base.spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), base.meta.schema.sparkSchema),
      resolved)
    val stateAggs: Seq[Column] = aggs.flatMap { a =>
      a.func match {
        case "count" if a.isStar => Seq(count(lit(1)).as(a.alias))
        case "count" => Seq(count(col(a.column)).as(a.alias))
        case "sum" | "avg" => Seq(sum(col(a.column)).as(sumCol(a.alias)),
          count(col(a.column)).cast("long").as(cntCol(a.alias)))
        case "min" => Seq(min(col(a.column)).as(a.alias))
        case "max" => Seq(max(col(a.column)).as(a.alias))
      }
    }
    val shape = empty
      .groupBy((jsonKey(groupBy).as(KeyCol) +: groupBy.map(col)): _*)
      .agg(count(lit(1)).as(RowsCol), stateAggs: _*)
    val t = catalog.createTable(ident, shape.schema)
    t.setProperties(Map(
      BaseLocKey -> base.location,
      "graft.ivm.group-by" -> groupBy.mkString(","),
      "graft.ivm.aggs" -> aggs.map(a => s"${a.func}:${a.column}:${a.alias}").mkString(";")) ++
      (if (resolved.isEmpty) Map.empty else Map(
        DimsKey -> dims.map(dj =>
          s"${dj.dimIdent}|${dj.factKey}|${dj.dimKey}|${dj.kind}").mkString(";"),
        DimSnapshotsKey -> dimSnapshots(resolved))))
    // register the view on the BASE table so the optimizer can route
    // matching aggregate queries to the maintained state (GraftMvRoute).
    // Atomic RMW: concurrent creates over the same base must compose.
    base.updateProperties(Links.add(ViewsKey, t.location))
    new MaterializedAgg(t, base, groupBy, aggs, catalog, resolved)
  }

  /** Reload a view created by [[create]] from its recorded spec. */
  def load(catalog: LakeCatalog, ident: String): MaterializedAgg =
    fromState(catalog.loadTable(ident), catalog)

  /** Reload a view from its state-table location THROUGH the metadata
    * authority of `owner` (the base table whose `graft.ivm.views` index
    * supplied the location, or the state table itself): the owning
    * catalog — needed to resolve star-view dimensions — is recovered
    * from the state location minus the recorded table identifier, in the
    * same mode (wire-protocol client when the owner resolved remotely). */
  def loadVia(owner: LakeTable, stateLocation: String): MaterializedAgg = {
    val t = owner.sibling(stateLocation)
    val suffix = "/" + t.meta.name.replace('.', '/')
    val catalog =
      if (stateLocation.endsWith(suffix)) {
        val wh = stateLocation.dropRight(suffix.length)
        t.metaStore match {
          case h: HttpMetaStore => new RemoteLakeCatalog(t.spark, wh, h.baseUri)
          case _ => new LakeCatalog(t.spark, wh)
        }
      } else null // dim-free views never need the catalog
    fromState(t, catalog)
  }

  private def fromState(t: LakeTable, catalog: LakeCatalog): MaterializedAgg = {
    val props = t.meta.properties
    def notView = new IllegalArgumentException(s"${t.meta.name} is not a materialized view")
    val baseLoc = props.getOrElse(BaseLocKey, throw notView)
    val (groupBy, aggs) = viewSpec(props).getOrElse(throw notView)
    val dims = dimsOf(props).map { dj =>
      require(catalog != null,
        s"star view ${t.meta.name} needs its owning catalog to resolve dim ${dj.dimIdent}")
      dj -> catalog.loadTable(dj.dimIdent)
    }
    // the base resolves through the state table's own authority: a
    // wire-resolved view must not fall back to filesystem metadata for
    // its base (there is none under the location in uri mode)
    new MaterializedAgg(t, t.sibling(baseLoc), groupBy, aggs, catalog, dims)
  }
}
