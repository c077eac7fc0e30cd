package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Expression↔Column converters —
  * the standard mechanism for third-party Catalyst expressions that want
  * DataFrame-API (Column) ergonomics without registering a SQL function —
  * and to the `private[spark]` listener bus, so a counting listener can
  * wait for every posted event instead of sleeping. Nothing else from
  * the internal API is touched.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
