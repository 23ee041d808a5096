package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]`/`private[spark]` Spark 4 members the
  * library's plan nodes need: Column↔Expression (Column wraps a ColumnNode
  * since 4.0), analyzed plans, float normalization, the name resolver and
  * the task's memory manager. Lives inside the org.apache.spark.sql package
  * tree for access — the standard extension-library technique (see
  * SNIPPETS.md [1]/[2]); nothing else reaches into Spark internals.
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for wrapping in a custom
    * logical node — attributes are resolved, so the node can bind
    * group/order expressions directly against `plan.output`). */
  def analyzed(df: Dataset[Row]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Float-normalize an expression (-0.0→0.0, canonical NaN) exactly as
    * Catalyst's NormalizeFloatingNumbers does for Aggregate/Window keys
    * — the rule is private[sql] and does not visit custom plan nodes,
    * so custom grouping operators apply it themselves. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)

  /** DataFrame over a hand-built logical plan (custom operator entry). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's name resolver (case-sensitive or not per
    * spark.sql.caseSensitive) — custom operators resolve user-supplied
    * column names with the same rule the analyzer uses. */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.resolver

  /** The task's memory manager, for operators that charge what they keep. */
  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()
}
