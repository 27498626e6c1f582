package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark internals: Spark 4 removed the public
  * `Column.expr`; the supported conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`. Living under
  * `org.apache.spark.sql` grants access — the same technique Spark
  * extensions use. */
object ColumnBridge {
  /** Fully convert the Column's ColumnNode tree to a catalyst Expression
    * (ExpressionUtils.expression alone returns a lazy ColumnNodeExpression
    * wrapper whose children are still ColumnNodes — useless for analysis). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a catalyst Expression back into a public Column (for custom
    * native expressions — graft.functions). */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** DataFrame over an arbitrary logical plan (Dataset.ofRows is
    * `private[sql]`) — used to test analyzer rules in isolation. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** [[ofRows]] over a plan put together from analyzed parts, marked
    * analyzed so that it is not analyzed a second time
    * (`setAnalyzed` is `private[sql]`). */
  def ofAnalyzed(spark: org.apache.spark.sql.SparkSession,
                 plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** A frame whose plan is one `LogicalRDD` leaf over `rows`, the executed
    * rows of `origin`, carrying origin's output, statistics and
    * partitioning ([[graft.Materialize]]; `LogicalRDD.fromDataset` is
    * `private[sql]`). */
  def leaf(origin: org.apache.spark.sql.DataFrame,
           rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    val ds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
