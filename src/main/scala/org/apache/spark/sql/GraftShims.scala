package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversions so the engine can
  * register custom Catalyst expressions (Spark 4 removed the public Column
  * constructor in the Connect refactor; this is the supported classic-mode
  * path, just package-protected).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener has seen every event posted so far
    * (`private[spark]`); throws `TimeoutException` after `timeoutMs`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
