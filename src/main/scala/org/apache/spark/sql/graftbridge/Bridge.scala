package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan bridge. Spark 4 made
  * these conversions `private[sql]` (`org.apache.spark.sql.classic.*`), so
  * extension libraries exposing native Catalyst expressions/plans as
  * Columns/DataFrames need a shim inside the `org.apache.spark.sql`
  * package tree — the standard pattern for third-party Spark libraries.
  */
object Bridge {
  /** `org.apache.spark.sql.types.AbstractDataType` is private[sql] in
    * Spark 4; expressions outside the sql tree that mix in
    * ExpectsInputTypes need this alias to type their `inputTypes`. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan (e.g. a custom node) back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener event posted so far has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`): counters a
    * listener keeps are complete for all finished jobs after this. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
