package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The engine's one door to Spark-private API (`private[sql]` and
  * `private[spark]` members, visible from this package).
  */
object GraftInternals {

  /** A session on `s`'s context starting from a copy of its conf, temp
    * views and functions; what is set on the copy stays there.
    */
  def derive(s: SparkSession): SparkSession = s.cloneSession()

  /** A DataFrame of `plan`, analyzed and run by `s`. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame = classic.Dataset.ofRows(s, plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** (name, duration ns, plan) of a named SQL execution that succeeded. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(String, Long, QueryExecution)] =
    if (e.qe == null || e.executionFailure.isDefined) None
    else e.executionName.map(n => (n, e.duration, e.qe))

  /** Waits until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
