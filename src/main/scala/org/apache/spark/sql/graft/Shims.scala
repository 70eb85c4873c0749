package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark internals that are `private[sql]` in 4.x (the classic
  * Column ↔ Expression converters, the session function registry and
  * `cloneSession`). Lives under org.apache.spark.sql so the package-private
  * APIs resolve — the same pattern every Spark extension library uses for
  * custom expressions.
  */
object Shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Physical plan of a streaming query's most recent micro-batch — the
    * only way to assert executed-plan shape (Exchange count, re-derived
    * aggregates) for stream-static joins in tests. */
  def lastExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.execution.SparkPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  /** An analyzed, checked DataFrame over a logical plan. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new session that starts as a copy of `spark`'s state: conf, temp
    * views, functions and extra optimizer rules. Later changes to either
    * stay out of the other. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Does the session's function registry hold `name`? */
  def hasFunction(spark: SparkSession, name: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  /** Register a Catalyst expression builder as a SQL function name. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
