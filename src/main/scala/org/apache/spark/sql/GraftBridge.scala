package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Minimal bridge into `private[sql]` API: convert between the public
  * Column and a Catalyst Expression (Spark 4 removed the public
  * `new Column(expr)` path), make a DataFrame over a logical plan, and
  * wait for the listener bus. Lives in the org.apache.spark.sql package
  * solely for visibility; no Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  /** Blocks until every queued listener event has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
