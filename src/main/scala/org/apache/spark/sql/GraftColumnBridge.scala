package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Catalyst Expression bridge. `classic.ExpressionUtils` is
  * `private[sql]` in Spark 4, so custom-Expression libraries need this
  * one-file shim inside the package (the usual extension pattern).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Register a function builder into a LIVE session's registry —
    * `sessionState` is `private[sql]`, so the post-build injection path
    * (driver-made sessions, where `withExtensions` never ran) needs the
    * same in-package shim. */
  def registerFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** Block until every event posted so far has reached every listener
    * — `SparkContext.listenerBus` is `private[spark]`, so dev tools
    * that read listener output (plan dumps, job counts) drain it here
    * instead of polling for quiet. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
