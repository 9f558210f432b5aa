package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge. Spark 4 hides Column construction from
  * raw Catalyst expressions behind `private[sql] classic.ExpressionUtils`;
  * extension libraries conventionally expose it via a shim in the
  * org.apache.spark.sql package (same approach as spark packages that
  * add custom expressions).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager conversion: `ExpressionUtils.expression` wraps the column
    * node lazily (`ColumnNodeExpression`), which is fine inside a
    * Dataset transformation but NOT inside a hand-built logical plan —
    * the wrapper holds non-serializable sql.internal nodes. This runs
    * the real converter so the result is a plain Catalyst tree.
    */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** The data source filter a resolved predicate translates to, as a
    * file scan pushes it (`DataSourceStrategy.translateFilter` is
    * `protected[sql]`).
    */
  def sourceFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)
}

/** DataFrame-from-LogicalPlan bridge (`Dataset.ofRows` is private[sql]). */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
