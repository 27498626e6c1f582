package graft.lake.dsv2

import graft.lake.MetaAggregate.{Agg, CountOf, CountStar, GroupKey, MaxOf, MinOf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analyzer rule: substitute a [[GraftTable]] DSv2 relation with the
  * LakeTable read plan (parquet scan over the snapshot's pruned file
  * list, with the rename/widen schema mapping). SQL reads thereby get
  * the exact semantics and pushdown of the Scala read path without a
  * custom DSv2 Scan/Batch implementation — Catalyst sees a plain parquet
  * relation and applies its own filter/column pushdown below our
  * projection.
  *
  * Write/DML targets keep the DSv2 relation (AppendData needs
  * SupportsWrite, DELETE needs SupportsDelete), so those relations are
  * excluded by reference identity.
  *
  * Also answers an unfiltered aggregate over a graft relation from
  * snapshot metadata — zero data files touched, any table size: one
  * Aggregate case, ungrouped or grouped by a single column, whose outputs
  * are all COUNT(*), COUNT(col), MIN(col), MAX(col) or the group column,
  * goes to [[GraftTable.metadataAggregate]]. Which of those metadata can
  * answer exactly is [[graft.lake.MetaAggregate]]'s decision; anything it
  * declines, and filters, DISTINCT or other shapes, scan normally.
  */
case class GraftReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // act only on FULLY-resolved plans: substitution preserves exprIds so
    // nothing here is needed FOR resolution, and rewriting early destroys
    // information later resolution steps still read (a Sort over `d.seg`
    // resolves its qualifier against the aggregate's output; the MV
    // routing pre-pass must also see the relation BEFORE the scan
    // substitution consumes it). The analyzer's fixed point re-runs this
    // rule the iteration after the plan resolves.
    if (!plan.resolved) return plan
    // relations serving as write/DML targets must stay DSv2 — register
    // every relation under the target plan (DML targets arrive wrapped in
    // SubqueryAlias layers, so the top node alone is not enough)
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def addTarget(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => writeTargets.add(r); ()
      case _ => ()
    }
    plan.foreach {
      case w: V2WriteCommand => addTarget(w.table)
      case d: DeleteFromTable => addTarget(d.table)
      case u: UpdateTable => addTarget(u.table)
      case m: MergeIntoTable => addTarget(m.targetTable)
      case _ => ()
    }
    // the aggregate's child must be exactly the relation, optionally
    // behind aliases or an attribute-only Project — any Filter/Generate/…
    // breaks the match and the aggregate scans normally
    def unwrapScan(p: LogicalPlan): Option[(DataSourceV2Relation, GraftTable)] = p match {
      case SubqueryAlias(_, c) => unwrapScan(c)
      case Project(projectList, c) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrapScan(c)
      case r: DataSourceV2Relation => r.table match {
        case gt: GraftTable => Some((r, gt))
        case _ => None
      }
      case _ => None
    }
    // one output column of a metadata-answerable aggregate, or None
    def classify(e: Expression, group: Option[AttributeReference]): Option[Agg] = e match {
      case a: AttributeReference if group.exists(_.exprId == a.exprId) => Some(GroupKey)
      case Alias(a: AttributeReference, _) => classify(a, group)
      case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) => Some(CountStar)
          case Count(Seq(a: AttributeReference)) => Some(CountOf(a.name))
          case Min(a: AttributeReference) => Some(MinOf(a.name))
          case Max(a: AttributeReference) => Some(MaxOf(a.name))
          case _ => None
        }
      case _ => None
    }
    // materialized-view routing pre-pass: an aggregate a maintained MV
    // already answers reads the (fresh) view state instead of scanning
    // the base — see GraftMvRoute for the match/freshness contract. Runs
    // before the metadata pass (a routed plan has no relation left for
    // it) and leaves non-matching aggregates untouched for it.
    val routed = plan.transformDown {
      case agg: Aggregate =>
        GraftMvRoute.route(spark, agg, unwrapScan, writeTargets.contains)
          .getOrElse(agg)
    }
    // metadata-only aggregates (the scaladoc above). Pre-pass
    // (transformDown) because the transformUp below substitutes the
    // relation out from under the Aggregate before it would match.
    val counted = routed.transformDown {
      case agg @ Aggregate(groupings @ (Seq() | Seq(_: AttributeReference)), aggExprs, child, _)
          if agg.resolved && aggExprs.nonEmpty =>
        val group = groupings.headOption.collect { case g: AttributeReference => g }
        val aggs = aggExprs.map(classify(_, group))
        unwrapScan(child) match {
          case Some((r, gt)) if !writeTargets.contains(r) && aggs.forall(_.isDefined) =>
            gt.metadataAggregate(group.map(_.name), aggs.flatten)
              .fold[LogicalPlan](agg)(LocalRelation(agg.output.map(_.toAttribute), _))
          case _ => agg
        }
    }
    // transformUp (not resolveOperatorsUp): the substitution must also
    // apply to already-analyzed subtrees (e.g. cached plan fragments);
    // the pattern is idempotent — once substituted there is no relation
    // left to match
    counted.transformUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] && !writeTargets.contains(r) &&
            // storage-partitioned-join mode: bucket-partitioned tables stay
            // DSv2 so the batch scan can report KeyGroupedPartitioning and
            // the join plans with no Exchange (GraftSpj scaladoc)
            !(GraftSpj.active(spark) && GraftSpj.eligible(r.table.asInstanceOf[GraftTable])) =>
        val gt = r.table.asInstanceOf[GraftTable]
        val child = gt.readDataFrame().queryExecution.analyzed
        // preserve the relation's output attribute ids so parent operator
        // references stay bound
        val aliased = r.output.zip(child.output).map { case (ro, co) =>
          Alias(co, ro.name)(exprId = ro.exprId)
        }
        Project(aliased, child)
      // SQL MERGE INTO on a graft target: translate the equality-key shape
      // to the distributed mergeByKeys command (GraftMerge scaladoc)
      case m: MergeIntoTable if GraftMerge.unwrapGraftTarget(m.targetTable).isDefined =>
        GraftMerge.translate(m).getOrElse(m)
      // SQL UPDATE … SET on a graft target: translate to the copy-on-write
      // LakeTable.update command (GraftUpdate scaladoc)
      case u: UpdateTable if GraftMerge.unwrapGraftTarget(u.table).isDefined =>
        GraftUpdate.translate(u).getOrElse(u)
      // SQL DELETE FROM on a graft target: translate to the LakeTable
      // .delete command — arbitrary predicates, not just V1-translatable
      // Filters (GraftDelete scaladoc)
      case d: DeleteFromTable if GraftMerge.unwrapGraftTarget(d.table).isDefined =>
        GraftDelete.translate(d).getOrElse(d)
    }
  }
}
