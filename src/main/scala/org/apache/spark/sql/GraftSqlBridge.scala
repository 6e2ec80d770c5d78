package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column <-> Expression converters — the standard
  * idiom for libraries that define native Catalyst expressions (the public API
  * deliberately hides expression internals; an extension jar re-exports exactly the
  * two conversions it needs) — and into the `private[spark]` listener bus. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every posted listener event has been delivered, so counters
    * a listener keeps are complete for the work that has finished. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
