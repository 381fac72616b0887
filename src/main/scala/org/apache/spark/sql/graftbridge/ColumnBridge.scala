package org.apache.spark.sql.graftbridge

import org.apache.spark.serializer.Serializer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.UnsafeRowSerializer

/** Bridge into `private[sql]` internals: the Column↔Expression converters
  * (the Spark 4 classic API keeps them internal) and the shuffle's row
  * serializer. Extension libraries reach them from an `org.apache.spark.sql`
  * subpackage — no behavior of our own here. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed LogicalPlan behind a DataFrame. */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The serializer `ShuffleExchangeExec` ships `UnsafeRow`s of `numFields`
    * fields with (`UnsafeRowSerializer` is private[sql]). */
  def rowSerializer(numFields: Int): Serializer = new UnsafeRowSerializer(numFields)
}
