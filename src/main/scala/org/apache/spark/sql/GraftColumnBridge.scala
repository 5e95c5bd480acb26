package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made the Column ↔ Expression bridge (`classic.ExpressionUtils`)
  * private[sql]; custom native Expressions (graft.functions.*) need it to
  * surface as Columns. This is the standard extension-library pattern: a
  * minimal forwarder living in the org.apache.spark.sql package. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** wait until every listener event posted so far is delivered */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
