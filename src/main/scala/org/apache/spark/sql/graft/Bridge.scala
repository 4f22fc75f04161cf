package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the Column-from-Expression
  * constructor path `private[sql]` (Column now wraps a ColumnNode); this
  * shim lives under the org.apache.spark.sql package purely to re-export
  * that capability to the engine's custom Catalyst expressions — the
  * standard extension-library pattern for this API gap.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus (private[spark]) — ScaleBench's per-phase
    * shuffle-byte accounting reads listener-accumulated task metrics
    * right after an action returns, when end-of-task events may still
    * be queued; without the drain the recorded bytes undercount by
    * whatever the bus hadn't delivered yet.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMillis: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
