package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-visibility shim for `Dataset.ofRows` (private[sql]) — the one
  * hook a library needs to hand a custom LogicalPlan back to the public
  * DataFrame API. Standard pattern for third-party Spark extensions; no
  * Spark behavior is altered. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session sharing `spark`'s context and cache, with a copy of its SQL conf. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Column from a raw catalyst Expression (for custom codegen'd
    * expressions used through the DataFrame API). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
