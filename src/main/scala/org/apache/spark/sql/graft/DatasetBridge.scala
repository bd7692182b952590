package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: constructing a DataFrame from a custom
  * LogicalPlan (and converting a public Column to its Catalyst
  * Expression) has no public API, and neither has waiting for the
  * listener bus, so this one object lives under org.apache.spark.sql —
  * the standard extension-library pattern. All graft code outside this
  * file stays in the graft namespace.
  */
object DatasetBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Blocks until every event posted so far has reached its listeners,
    * so counters a listener keeps are complete once this returns. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
