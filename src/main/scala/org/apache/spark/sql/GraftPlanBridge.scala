package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` hooks a planner extension living outside
  * `org.apache.spark.sql` needs: wrapping a custom LogicalPlan node
  * (graft.plans.AsofJoin, graft.queries.BucketPairs) into a public
  * DataFrame, a Scala-only expression into a Column and back, and
  * draining the listener bus before listener totals are read. Everything else
  * the extensions use — SparkSessionExtensions, SparkStrategy,
  * SparkPlan — is public API, so this bridge is the entire
  * package-injection surface.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
