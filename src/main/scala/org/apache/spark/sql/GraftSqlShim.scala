package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` constructors that every serious Spark
  * extension needs: building a DataFrame from a custom LogicalPlan and
  * extracting the Catalyst Expression behind a Column (and draining the
  * listener bus, for counts taken by a SparkListener). Spark 4 split the
  * public Column API from Catalyst (Spark Connect), so extensions bridge
  * via the classic namespace — the same technique every connector /
  * extension library uses; no Spark internals are modified. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Returns once the listener bus has delivered every event posted so
    * far; Spark bounds the wait (10 s, then a TimeoutException). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
