package graft.lake.dsv2

import graft.lake.{LakeTable, Links, MaterializedAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Automatic materialized-view query routing: an aggregate query whose
  * shape a maintained [[MaterializedAgg]] already answers reads the
  * (fresh) view state instead of scanning the base table — the feature
  * that makes MV maintenance pay rent on a 100 TB base, where the state
  * table is group-count-sized and the scan it replaces is the dominant
  * cost. Classic query rewrite over materialized aggregates (Goldstein &
  * Larson, SIGMOD'01), scoped to exact-match single-table views.
  *
  * Matches `Aggregate(groupCols, aggExprs, <graft base relation>)` and
  * the star shape `Aggregate(…, Join(…Join(base, dim1)…, dimN))` where:
  *   - the base table's `graft.ivm.views` index names a view whose
  *     recorded spec has exactly the query's group columns and whose
  *     AggCols cover every aggregate expression (COUNT(*) / count / sum /
  *     avg / min / max over a plain column, no DISTINCT, no FILTER);
  *   - the query's equi-join chain equals the view's recorded DimJoin
  *     list in order — same dim tables, same fact/dim keys, same
  *     inner/left kinds (a dim-free query matches only a dim-free view);
  *   - **freshness**: every dimension sits at its recorded build-time
  *     snapshot, and the view's watermark equals the base's current
  *     snapshot id — OR (r11) the stale window is compensated read-side:
  *     the routed plan overlays the `(watermark, head]` signed changelog
  *     delta over the committed state without committing (the identical
  *     fold [[MaterializedAgg.refresh]] would apply), so routing keeps
  *     working between refreshes at churn cost, never base-scan cost.
  *     Compensation declines (→ normal scan) for never-refreshed views,
  *     mutated dimensions, and MIN/MAX views whose window removed rows
  *     (metadata-proven via `windowLossFree`); disable wholesale with
  *     `graft.mv.route.compensate=false`;
  *   - the presented column's dataType equals the query expression's
  *     (AVG over DECIMAL presents as DOUBLE and is rejected here);
  *   - the relation is not a write/DML target and carries no time-travel
  *     pin or branch (the view reflects main's head only).
  *
  * A WHERE below the aggregate (the standard dashboard shape
  * `SELECT g, agg FROM t WHERE g = 'x' GROUP BY g`) routes when every
  * predicate is a deterministic, subquery-free function of the GROUP BY
  * columns: such a predicate is constant within each group, so filtering
  * rows before aggregation equals filtering groups after it, and the
  * rewrite re-applies the predicate over the presented state (a
  * state-table-sized filter instead of a base scan). Predicates touching
  * any non-group column disable the rewrite for the whole query.
  *
  * The rewrite preserves the Aggregate's output names and exprIds (an
  * aliased Project over the finalized-state plan), so parent operators
  * stay bound. Validation cost when no index entry exists: one property
  * lookup on cached metadata.
  *
  * Caveat: SUM/COUNT over integral types route bit-exactly; AVG routes
  * only when both sides are DOUBLE, where the state's sum/count division
  * can differ from a fresh scan's in the last float ulp (any two scan
  * orders differ the same way).
  */
object GraftMvRoute {

  /** Session conf gating stale-view compensation (default true): set to
    * `false` to restore r10's exact-freshness-only routing. */
  val CompensateKey = "graft.mv.route.compensate"

  /** Session conf bounding the stale window (commits) compensation will
    * fold read-side (default 64): the changelog unions one per-commit
    * diff, so a weeks-stale view would build an enormous plan and likely
    * cost more than the scan it replaces — beyond the bound the query
    * scans normally. */
  val CompensateMaxCommitsKey = "graft.mv.route.compensate.max-commits"

  /** Some(rewritten plan) when `agg` is answerable by a registered fresh
    * view of the graft relation under it. */
  def route(spark: SparkSession, agg: Aggregate,
            unwrap: LogicalPlan => Option[(DataSourceV2Relation, GraftTable)],
            isWriteTarget: DataSourceV2Relation => Boolean): Option[LogicalPlan] = {
    if (!agg.resolved) return None
    // a WAP session redirects un-pinned reads to the audit branch
    // (LakeTable.resolveSnapshot) — the view reflects MAIN's head, so
    // routing would silently answer from the wrong lineage
    if (spark.conf.getOption("spark.wap.branch").exists(_.nonEmpty) ||
        spark.conf.getOption("spark.wap.id").exists(_.nonEmpty)) return None
    val (peeled, filters) = peelFilters(agg.child)
    // a WHERE below the aggregate routes only when every predicate is a
    // deterministic, subquery-free function of the GROUP BY columns —
    // then filtering rows before aggregation ≡ filtering groups of the
    // full aggregate, so the same predicate re-applies over the presented
    // state. Anything touching a non-group column kills the rewrite.
    val groupIds = agg.groupingExpressions
      .collect { case a: AttributeReference => a.exprId }.toSet
    if (!filters.forall(c => c.deterministic &&
        c.find(_.isInstanceOf[PlanExpression[_]]).isEmpty &&
        c.references.forall(r => groupIds.contains(r.exprId)))) return None
    for {
      ((r, gt), planDims) <- unwrapStar(peeled, unwrap)
      if !isWriteTarget(r) && unpinned(gt) && planDims.forall(d => unpinned(d._2))
      base = gt.lakeTable
      // group expressions must be plain columns
      groupNames <- attrNames(agg.groupingExpressions)
      if groupNames.nonEmpty
      plan <- Links.of(base.meta.properties, MaterializedAgg.ViewsKey).iterator
        .flatMap(loc => tryRoute(spark, agg, base, groupNames, planDims, filters, loc))
        .nextOption()
    } yield plan
  }

  /** Peel SubqueryAlias / attribute-only Project / Filter layers off the
    * aggregate's input, collecting the Filter conditions — filters
    * commute with those wrappers, so position among them is irrelevant.
    * Filters BELOW a star join (inside a subquery join operand) are not
    * peeled: the chain match in [[unwrapStar]] rejects them. */
  private def peelFilters(plan: LogicalPlan): (LogicalPlan, Seq[Expression]) = plan match {
    case SubqueryAlias(_, c) => peelFilters(c)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => peelFilters(c)
    case Filter(cond, c) => val (p, fs) = peelFilters(c); (p, cond +: fs)
    case other => (other, Seq.empty)
  }

  private def unpinned(gt: GraftTable): Boolean =
    gt.metaKind.isEmpty && gt.pinnedSnapshotId.isEmpty &&
      gt.pinnedTimestampMs.isEmpty && gt.pinnedBranch.isEmpty

  /** One dimension join of the query plan, normalized to the DimJoin
    * vocabulary: (dim relation, dim table, factKey, dimKey, kind). */
  private type PlanDim = (DataSourceV2Relation, GraftTable, String, String, String)

  /** Peel the left-deep equi-join chain a star query plans to:
    * `Join(… Join(base, dim1) …, dimN)` — exactly the shape
    * [[MaterializedAgg.enrichWith]]'s fold produces for its DimJoin list,
    * so plan dims match the recorded spec in order. */
  private def unwrapStar(plan: LogicalPlan,
                         unwrap: LogicalPlan => Option[(DataSourceV2Relation, GraftTable)])
      : Option[((DataSourceV2Relation, GraftTable), Seq[PlanDim])] = plan match {
    case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, c) =>
      unwrapStar(c, unwrap)
    // a subquery wrapper (`FROM (SELECT * FROM fact JOIN dim …) s`) plans
    // an attribute-only Project over the join — transparent for matching
    case org.apache.spark.sql.catalyst.plans.logical.Project(pl, c)
        if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrapStar(c, unwrap)
    case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
      val kind = j.joinType match {
        case org.apache.spark.sql.catalyst.plans.Inner => "inner"
        case org.apache.spark.sql.catalyst.plans.LeftOuter => "left"
        case _ => return None
      }
      for {
        (baseInfo, dims) <- unwrapStar(j.left, unwrap)
        dimInfo <- unwrap(j.right)
        cond <- j.condition
        (a, b) <- cond match {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
            x: AttributeReference, y: AttributeReference) => Some((x, y))
          case _ => None
        }
        rightAttrs = j.right.outputSet
        // exactly one side of the equality lives on the dim relation
        (factKey, dimKey) <-
          if (rightAttrs.contains(b) && !rightAttrs.contains(a)) Some((a.name, b.name))
          else if (rightAttrs.contains(a) && !rightAttrs.contains(b)) Some((b.name, a.name))
          else None
      } yield (baseInfo, dims :+ ((dimInfo._1, dimInfo._2, factKey, dimKey, kind)))
    case other => unwrap(other).map(x => (x, Seq.empty))
  }

  private def attrNames(es: Seq[Expression]): Option[Seq[String]] = {
    val names = es.collect { case a: AttributeReference => a.name }
    if (names.length == es.length) Some(names) else None
  }

  /** The view AggCol shape `(func, column)` of a query aggregate
    * expression, or None when unroutable. */
  private def classify(ae: AggregateExpression): Option[(String, String)] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case Count(Seq(Literal(1, _))) => Some(("count", "*"))
      case Count(Seq(a: AttributeReference)) => Some(("count", a.name))
      case Sum(a: AttributeReference, _) => Some(("sum", a.name))
      case Average(a: AttributeReference, _) => Some(("avg", a.name))
      case Min(a: AttributeReference) => Some(("min", a.name))
      case Max(a: AttributeReference) => Some(("max", a.name))
      case _ => None
    }

  private def tryRoute(spark: SparkSession, agg: Aggregate, base: LakeTable,
                       groupNames: Seq[String], planDims: Seq[PlanDim],
                       filters: Seq[Expression],
                       loc: String): Option[LogicalPlan] =
    try {
      // sibling resolution: the state table must resolve through the
      // BASE table's metadata authority (over the wire in uri mode)
      val state = base.sibling(loc)
      val props = state.meta.properties
      val (mvGroup, mvAggs) = MaterializedAgg.viewSpec(props).getOrElse(return None)
      // spec match: same base and same group-column set
      if (!props.get(MaterializedAgg.BaseLocKey).contains(base.location)) return None
      if (mvGroup.sorted != groupNames.sorted) return None
      // star shape: the query's dim-join chain must equal the view's
      // recorded DimJoin list IN ORDER (enrichWith folds in order, so an
      // equivalent query plans the same left-deep chain) — same dim table
      // (by catalog-relative location suffix), same fact/dim keys, same
      // join kind; a dim-free query matches only a dim-free view
      val mvDims = MaterializedAgg.dimsOf(props)
      if (mvDims.length != planDims.length) return None
      // dim identity must be EXACT-location: the recorded idents are
      // relative to the view's catalog, whose warehouse is the state
      // location minus the view's own identifier path — a suffix match
      // would accept a same-named dim from another catalog/warehouse
      val viewSuffix = "/" + state.meta.name.replace('.', '/')
      if (!loc.endsWith(viewSuffix)) return None
      val warehouse = loc.dropRight(viewSuffix.length)
      val dimsMatch = mvDims.zip(planDims).forall {
        case (dj, (_, dgt, pfk, pdk, pkind)) =>
          dgt.lakeTable.location == warehouse + "/" + dj.dimIdent.replace('.', '/') &&
            dj.factKey == pfk && dj.dimKey == pdk && dj.kind == pkind
      }
      if (!dimsMatch) return None
      // freshness: every dimension must sit at its recorded (build-time)
      // snapshot — a mutated dimension never routes, fresh or stale
      val head = base.meta.currentSnapshot.map(_.snapshotId)
      if (head.isEmpty) return None
      if (planDims.nonEmpty) {
        val current = planDims.map(_._2.lakeTable.meta.currentSnapshot
          .map(_.snapshotId).getOrElse(-1L)).mkString(",")
        if (!props.get(MaterializedAgg.DimSnapshotsKey).contains(current)) return None
      }
      // the state to present: the committed state when the view reflects
      // exactly the base's head; otherwise STALE-TOLERANT COMPENSATION —
      // overlay the (watermark→head] signed delta over the state
      // read-side, without committing (the same churn-sized fold refresh
      // applies). compensatedState returns None when that is unsound
      // (never-refreshed view, mutated dim, min/max-clipping deletes in
      // the window) and the query scans normally.
      val stateDf: org.apache.spark.sql.DataFrame =
        if (MaterializedAgg.watermarkOf(state) == head) state.toDF
        else if (!spark.conf.getOption(CompensateKey).forall(_.toBoolean)) return None
        else MaterializedAgg.loadVia(base, loc).compensatedState(head.get,
          maxCommits = spark.conf.getOption(CompensateMaxCommitsKey)
            .flatMap(_.toIntOption).getOrElse(64)) match {
          case Some(df) => df
          case None => return None
        }
      // map every output expression onto a presented view column
      val presentedBare = MaterializedAgg.presentState(stateDf, mvGroup, mvAggs)
        .queryExecution.analyzed
      val byName = presentedBare.output.map(a => a.name -> a).toMap
      // group-column WHERE: re-apply over the presented state (every
      // referenced attribute is a grouping attr — route() checked — so
      // its name maps onto a presented group column)
      val presented: LogicalPlan =
        if (filters.isEmpty) presentedBare
        else Filter(filters.map(_.transform {
          case a: AttributeReference => byName(a.name)
        }).reduce(org.apache.spark.sql.catalyst.expressions.And), presentedBare)
      val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
        case a: AttributeReference if groupNames.contains(a.name) =>
          byName.get(a.name).map(attr => Alias(attr, a.name)(exprId = a.exprId))
        case al @ Alias(a: AttributeReference, name) if groupNames.contains(a.name) =>
          byName.get(a.name).map(attr => Alias(attr, name)(exprId = al.exprId))
        case al @ Alias(ae: AggregateExpression, name) =>
          for {
            (func, colName) <- classify(ae)
            mv <- mvAggs.find(m => m.func == func && m.column == colName)
            attr <- byName.get(mv.alias)
            // exact type equality or no deal: the state's finalized type
            // must be what the query's aggregate would produce
            if attr.dataType == ae.dataType
          } yield Alias(attr, name)(exprId = al.exprId)
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) None
      else Some(Project(mapped.map(_.get), presented))
    } catch { case scala.util.control.NonFatal(_) => None }
}
