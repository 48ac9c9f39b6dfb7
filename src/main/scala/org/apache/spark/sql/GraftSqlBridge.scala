package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> catalyst Expression conversions
  * (Spark 4 hides `Column.expr` behind the ColumnNode API; the classic
  * session still converts via `classic.ExpressionUtils`). Standard
  * extension-library idiom: one tiny object inside the sql package.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` with -0.0 as 0.0 and one NaN, as grouping keys are normalized. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Build a DataFrame over a custom logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the entry point for library-constructed plan
    * nodes like [[graft.plans.TopKPerGroup]].
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
