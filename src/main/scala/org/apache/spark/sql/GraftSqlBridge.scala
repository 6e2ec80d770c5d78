package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into Spark's `private[sql]` Column <-> Expression converters — the standard
  * idiom for libraries that define native Catalyst expressions (the public API
  * deliberately hides expression internals; an extension jar re-exports exactly the
  * two conversions it needs) — into the Dataset <-> logical plan pair a library
  * plan node needs, and into the `private[spark]` listener bus. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed plan of `df`. */
  def logicalPlan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A DataFrame over `plan`, analyzed in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Puts `strategy` first among `spark`'s extra planner strategies unless an
    * earlier call put it there. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val e = spark.asInstanceOf[classic.SparkSession].experimental
    if (!e.extraStrategies.contains(strategy)) e.extraStrategies = strategy +: e.extraStrategies
  }

  /** Blocks until every posted listener event has been delivered, so counters
    * a listener keeps are complete for the work that has finished. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
