package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion, the
  * standard pattern for libraries that ship native Catalyst expressions
  * (Spark 4 moved Column to a ColumnNode facade; classic.ExpressionUtils
  * does the conversion but is sql-private). */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over a logical plan (`Dataset.ofRows` is sql-private). */
  def ofRows(s: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Block until all queued listener events are delivered — lets tests
    * read SparkListener-collected metrics deterministically. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
