package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column wraps a ColumnNode and the classic Expression bridge
  * (`org.apache.spark.sql.classic.ExpressionUtils`) is `private[sql]`, so
  * custom Catalyst expressions need this one-file shim inside the
  * `org.apache.spark.sql` package — the conventional extension-point
  * pattern for libraries shipping native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan backing a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Build a DataFrame from a raw logical plan (Dataset.ofRows is
    * `private[sql]`).
    */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Idempotently add a planner strategy to a live session
    * (`experimental` lives on the classic SparkSession).
    */
  def registerStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotent runtime SQL-function registration (sessionState is
    * `private[sql]`). Complements the config-time
    * `SparkSessionExtensions` path for sessions that already exist; a
    * name the session already resolves (e.g. injected by those
    * extensions) is left as it is.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
