package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Column <-> catalyst Expression
  * converters (Spark 4 moved them behind the Connect-compatible Column
  * API). Lives in the `org.apache.spark.sql` namespace solely to
  * satisfy the qualified-private access; used by graft's custom
  * expressions to expose themselves as `Column` functions. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Column -> catalyst Expression via the REAL converter
    * (`ColumnNodeToExpressionConverter`), not
    * `ExpressionUtils.expression`: the latter wraps the column node in
    * a lazy `ColumnNodeExpression` placeholder that only resolves when
    * it passes through the classic Dataset API — injected into a
    * function-registry builder it would survive to codegen and throw
    * `Cannot generate code for expression`. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over an arbitrary (resolved) logical plan — the
    * constructor custom plan nodes need (`Dataset.ofRows` is
    * `private[sql]`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan under a DataFrame. */
  def analyzedPlan(df: Dataset[Row]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Stable per-session UUID (`private[sql]` on classic sessions). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until every event posted so far reached every listener
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a function into an already-running session's registry
    * (extensions only apply at session construction). */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
