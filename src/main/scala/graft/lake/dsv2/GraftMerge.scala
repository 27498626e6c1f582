package graft.lake.dsv2

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** SQL `MERGE INTO` for graft lake tables (SURVEY §2.9 / the reference's
  * equality-delete upsert semantics, IcebergStream.java:118), without the
  * SupportsRowLevelOperations machinery: a resolved [[MergeIntoTable]]
  * whose shape is an equality-key merge with source-only action
  * expressions is rewritten to a command over
  * [[graft.lake.LakeTable.mergeByKeys]]; files are stats-pruned.
  *
  * Plan shape. A small MERGE costs its Spark jobs, not its rows, so:
  *   - A source of at most [[graft.lake.LakeTable.SmallKeyBatch]] (1,024)
  *     rows is collected once, under a LIMIT of 1,025 (a `VALUES` source
  *     runs no job), and re-planned as a local relation. Matched-ness is
  *     ONE bounded target lookup, `key IN <source keys>`, whose keys are
  *     collected; the action branches and delete keys are then filters
  *     and projects over the local relation and run no job, and
  *     mergeByKeys takes the delete keys on the driver. A copy-on-write
  *     MERGE with a 10-row source runs three jobs: the lookup, the
  *     survivor rewrite and the upsert write (JobCountSpec).
  *   - A larger source, a NOT MATCHED BY SOURCE clause or a merge inside a
  *     SQL transaction stays distributed: the source's key bounds (one
  *     aggregate), a left join against the bounds-pruned target keys,
  *     cached while the branches read it.
  *
  * Translatable shape (everything else is left for Spark to reject):
  *   - ON target.k = <expr over source>
  *   - WHEN MATCHED [AND cond] THEN UPDATE SET <all columns> | DELETE
  *   - WHEN NOT MATCHED [AND cond] THEN INSERT <all columns>
  *   - WHEN NOT MATCHED BY SOURCE [AND cond-over-target] THEN DELETE
  *     (the full-sync idiom: target rows absent from the source are
  *     dropped in the SAME atomic commit; cond may reference only
  *     TARGET columns — it is evaluated on a branch-correct target scan)
  *   - matched/not-matched action conditions/values reference only
  *     source columns
  *
  * Semantics: a matched target row is deleted iff SOME matched action
  * wins for a matching source row (first-true-condition wins, SQL order);
  * winning UPDATE/INSERT actions contribute replacement rows. Target rows
  * whose matched source rows win no action are left untouched.
  */
object GraftMerge {

  def unwrapGraftTarget(plan: LogicalPlan): Option[GraftTable] = plan match {
    case SubqueryAlias(_, child) => unwrapGraftTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case gt: GraftTable => Some(gt)
      case _ => None
    }
    case _ => None
  }

  /** Extract (targetKeyName, sourceKeyExpression) from `ON t.k = <src expr>`. */
  private def keyOf(m: MergeIntoTable): Option[(String, Expression)] = {
    val targetAttrs = m.targetTable.outputSet
    val sourceAttrs = m.sourceTable.outputSet
    m.mergeCondition match {
      case EqualTo(a: AttributeReference, b)
          if targetAttrs.contains(a) && b.references.subsetOf(sourceAttrs) =>
        Some((a.name, b))
      case EqualTo(b, a: AttributeReference)
          if targetAttrs.contains(a) && b.references.subsetOf(sourceAttrs) =>
        Some((a.name, b))
      case _ => None
    }
  }

  private def sourceOnly(m: MergeIntoTable, e: Expression): Boolean =
    e.references.subsetOf(m.sourceTable.outputSet)

  private def actionsOk(m: MergeIntoTable): Boolean = {
    val targetCols = m.targetTable.output.map(_.name).toSet
    def assignsOk(assigns: Seq[Assignment]): Boolean =
      assigns.nonEmpty &&
        assigns.forall(a => a.key.isInstanceOf[Attribute] && sourceOnly(m, a.value)) &&
        assigns.map(_.key.asInstanceOf[Attribute].name).toSet == targetCols
    m.matchedActions.forall {
      case UpdateAction(cond, assigns, _) =>
        cond.forall(sourceOnly(m, _)) && assignsOk(assigns)
      case DeleteAction(cond) => cond.forall(sourceOnly(m, _))
      case _ => false
    } && m.notMatchedActions.forall {
      case InsertAction(cond, assigns) =>
        cond.forall(sourceOnly(m, _)) && assignsOk(assigns)
      case _ => false
    } && (m.notMatchedBySourceActions match {
      // full-sync DELETE: at most one clause, condition over target only
      case Seq() => true
      case Seq(DeleteAction(cond)) =>
        cond.forall(_.references.subsetOf(m.targetTable.outputSet))
      case _ => false
    })
  }

  /** Rewrite if translatable; None leaves the plan for Spark to reject.
    * Metadata tables and time-travel pins can never be merge targets. */
  def translate(m: MergeIntoTable): Option[LogicalPlan] =
    for {
      gt <- unwrapGraftTarget(m.targetTable)
      if gt.metaKind.isEmpty &&
        gt.pinnedSnapshotId.isEmpty && gt.pinnedTimestampMs.isEmpty &&
        m.resolved && actionsOk(m)
      (keyName, keyExpr) <- keyOf(m)
    } yield MergeIntoGraftCommand(gt, m.sourceTable, keyName, keyExpr,
      m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)

  /** Target-key scan for matched-ness, pruned to data files whose key
    * stats overlap the source batch's [lo, hi] key bounds — the same
    * footer-stats trick mergeByKeys uses for the rewrite set. A MERGE
    * whose source touches one partition reads one partition's files for
    * the matched-ness join, not the whole table. Reads the same branch
    * the merge will commit to. */
  def matchedKeyScan(lt: graft.lake.LakeTable, key: String, lo: Any, hi: Any,
                     branch: Option[String] = None): DataFrame =
    lt.read(branch = branch, filter = Some(col(key) >= lit(lo) && col(key) <= lit(hi)))
      .select(col(key).as("_tk")).distinct()
}

case class MergeIntoGraftCommand(
    gt: GraftTable,
    source: LogicalPlan,
    targetKeyName: String,
    sourceKeyExpr: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction] = Seq.empty)
  extends LeafRunnableCommand {

  private def c(e: Expression): Column = ColumnBridge.column(e)

  // conflict-retry: the matched-ness scan and file pruning are planned
  // against a snapshot; a concurrent rewrite re-plans the whole merge
  override def run(spark: SparkSession): Seq[Row] =
    graft.lake.LakeTable.withConflictRetry() { runOnce(spark) }

  private def runOnce(spark: SparkSession): Seq[Row] = {
    smallSource(spark) match {
      case Some(local) => mergeMarked(spark, markedLocal(spark, local), None)
      case None =>
        val src = ColumnBridge.ofRows(spark, source)
        // pinned: `marked` (source query + matched-ness join) is consumed
        // once per winning action branch plus once for the delete-key set —
        // unpinned, an expensive source query re-executes 3-5 times
        graft.Materialize.using(markedDistributed(src))(
          mergeMarked(spark, _, notMatchedBySourceKeys(src)))
    }
    Seq.empty
  }

  /** The source as a driver-local relation, when it has at most
    * [[graft.lake.LakeTable.SmallKeyBatch]] rows and the merge can use it:
    * one bounded collect (a `VALUES` source folds into a local relation and
    * runs no job). The relation keeps `source.output`, so every action
    * condition and assignment still binds to it. NOT MATCHED BY SOURCE
    * reads every target key anyway, and a merge inside a SQL transaction
    * keeps the route it has always had: both stay distributed. */
  private def smallSource(spark: SparkSession): Option[LocalRelation] = {
    val bound = graft.lake.LakeTable.SmallKeyBatch
    if (notMatchedBySourceActions.nonEmpty ||
      graft.lake.SqlTransactions.activeId(gt.lakeTable.spark).isDefined) None
    else {
      val rows = ColumnBridge.ofRows(spark, Limit(Literal(bound + 1), source)).collect()
      if (rows.length > bound) None
      else {
        val toInternal = CatalystTypeConverters.createToCatalystConverter(source.schema)
        Some(LocalRelation(source.output,
          rows.toSeq.map(r => toInternal(r).asInstanceOf[InternalRow])))
      }
    }
  }

  /** Matched-ness of a driver-local source: ONE bounded target lookup
    * (`key IN <the source's keys>`, file-pruned by stats and manifest
    * blooms) whose keys come back to the driver, then an IN test per source
    * row. Every frame built over the result is a filter or project over the
    * local relation, which the optimizer folds: it runs no job. Reads the
    * branch the merge commits to. */
  private def markedLocal(spark: SparkSession, local: LocalRelation): DataFrame = {
    val src = ColumnBridge.ofRows(spark, local)
    def literals(values: Seq[Any], dt: DataType): Seq[Column] =
      values.map(v => c(Literal.create(v, dt)))
    val srcKeys = src.select(c(sourceKeyExpr)).collect().map(_.get(0)).filter(_ != null).distinct
    val matched =
      if (srcKeys.isEmpty) Seq.empty
      else {
        val tk = gt.lakeTable.read(branch = gt.effectiveBranch, filter = Some(
            col(targetKeyName).isin(literals(srcKeys.toSeq, sourceKeyExpr.dataType): _*)))
          .select(col(targetKeyName))
        literals(tk.collect().map(_.get(0)).distinct.toSeq, tk.schema.head.dataType)
      }
    src.withColumn("_matched",
      if (matched.isEmpty) lit(false)
      else coalesce(c(sourceKeyExpr).isin(matched: _*), lit(false)))
  }

  /** Matched-ness of any other source: a left join against the target's
    * distinct keys (distributed; no key collection). One 1-row agg fetches
    * the source's key bounds first so the key scan reads only
    * stats-overlapping files instead of the whole table. */
  private def markedDistributed(src: DataFrame): DataFrame = {
    val kb = src.agg(min(c(sourceKeyExpr)).as("lo"), max(c(sourceKeyExpr)).as("hi")).head()
    // matched-ness MUST read the branch the merge commits to (a
    // branch-suffixed target merged against main's keys would rewrite the
    // wrong rows)
    val tgtKeys =
      if (kb.isNullAt(0)) // no non-null source keys → nothing can match
        gt.lakeTable.read(branch = gt.effectiveBranch)
          .select(col(targetKeyName).as("_tk")).filter(lit(false))
      else GraftMerge.matchedKeyScan(gt.lakeTable, targetKeyName, kb.get(0), kb.get(1),
        branch = gt.effectiveBranch)
    src.join(tgtKeys, c(sourceKeyExpr) === col("_tk"), "left")
      .withColumn("_matched", col("_tk").isNotNull)
  }

  /** NOT MATCHED BY SOURCE DELETE (full sync): target keys with no source
    * match, condition evaluated on a branch-correct target scan (the
    * cond's target attributes are re-bound by NAME onto the scan — the
    * plan's attribute ids don't resolve against a fresh read). The key
    * scan is column-pruned to the key + cond columns; the rewrite set
    * stays key-bound-pruned via mergeByKeys. Cost is honest to the
    * semantics: full sync must at least read every target key. */
  private def notMatchedBySourceKeys(src: DataFrame): Option[DataFrame] =
    notMatchedBySourceActions.headOption.map {
      case DeleteAction(cond) =>
        val tdf = gt.lakeTable.read(branch = gt.effectiveBranch)
        val condCol = cond.map(e => coalesce(c(e.transform {
          case a: AttributeReference => ColumnBridge.expression(tdf(a.name))
        }), lit(false))).getOrElse(lit(true))
        val srcKeys = src.select(c(sourceKeyExpr).as("_sk")).distinct()
        tdf.filter(condCol).select(col(targetKeyName))
          .join(srcKeys, col(targetKeyName) === col("_sk"), "left_anti")
      case other =>
        throw new IllegalStateException(s"untranslatable NMBS action $other")
    }

  /** The upserts and delete keys of a source already marked with
    * `_matched`, committed in one [[graft.lake.LakeTable.mergeByKeys]]. */
  private def mergeMarked(spark: SparkSession, marked: DataFrame,
                          nmbsKeys: Option[DataFrame]): Unit = {
    def condOf(a: MergeAction): Column =
      a.condition.map(e => coalesce(c(e), lit(false))).getOrElse(lit(true))
    // first-true-condition-wins per SQL MERGE order
    def winFilter(actions: Seq[MergeAction], i: Int): Column =
      actions.take(i).map(condOf).foldLeft(condOf(actions(i)))((acc, p) => acc && !p)
    def branches(actions: Seq[MergeAction], base: Column): Seq[DataFrame] =
      actions.zipWithIndex.collect {
        case (UpdateAction(_, assigns, _), i) =>
          marked.filter(base && winFilter(actions, i))
            .select(assigns.map(a =>
              c(a.value).as(a.key.asInstanceOf[Attribute].name)): _*)
        case (InsertAction(_, assigns), i) =>
          marked.filter(base && winFilter(actions, i))
            .select(assigns.map(a =>
              c(a.value).as(a.key.asInstanceOf[Attribute].name)): _*)
      }
    val upserts = (branches(matchedActions, col("_matched")) ++
        branches(notMatchedActions, !col("_matched")))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)
    // delete a matched key iff some matched action wins for its source row
    val anyMatchedWin = matchedActions.map(condOf)
      .reduceOption(_ || _).getOrElse(lit(false))
    val matchedDeleteKeys = marked.filter(col("_matched") && anyMatchedWin)
      .select(c(sourceKeyExpr).as(targetKeyName))
    // NULL-keyed target rows never equi-match, so they too are
    // not-matched-by-source and SQL requires them deleted — but
    // equality-key machinery cannot express "delete WHERE key IS NULL"
    // (mergeByKeys' key set is null-filtered and its anti-join is
    // null-rejecting), so they route through mergeByKeys' dedicated
    // `nullKeyDelete` condition instead of the key set. The condition is
    // rebound by NAME so it resolves against mergeByKeys' internal live
    // scan (TRUE when the clause has no cond).
    val nullCond = notMatchedBySourceActions.headOption.map {
      case DeleteAction(cond) =>
        cond.map(e => c(e.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              .quoted(a.name)
        })).getOrElse(lit(true))
      case other =>
        throw new IllegalStateException(s"untranslatable NMBS action $other")
    }
    val keyDf = nmbsKeys.foldLeft(matchedDeleteKeys)(_ unionByName _)
    gt.txnRoute match {
      case Some(tt) => tt.mergeByKeys(targetKeyName, keyDf, upserts,
        Map("merged-by" -> "sql-merge-into"), nullKeyDelete = nullCond)
      case None => gt.lakeTable.mergeByKeys(targetKeyName, keyDf, upserts,
        Map("merged-by" -> "sql-merge-into"), toBranch = gt.pinnedBranch,
        nullKeyDelete = nullCond)
    }
    ()
  }
}
