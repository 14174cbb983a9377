package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `private[sql]` / `private[spark]` members this repo needs, exposed
  * from inside the `sql` package. Spark 4 moved the pre-4.x
  * `new Column(expr)` / `col.expr` surface behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). No Spark internals are
  * modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an (already analyzed) logical plan in a FRESH Dataset — fresh
    * QueryExecution, so optimization, physical planning and AQE re-run per
    * call under the CALLER's current conf. `Dataset.ofRows` went
    * `private[sql]` with the 4.x classic split, same as the Column bridge
    * above. The analyzer short-circuits on an already-analyzed plan
    * (AnalysisHelper.analyzed), so re-wrapping is O(1) driver work.
    */
  def ofRows(session: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Wait until every listener has seen every event posted so far; throws
    * `TimeoutException` after `timeoutMs`.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The execution an end event reports on (null when none is attached). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Whether the execution an end event reports on raised. */
  def executionFailed(e: SparkListenerSQLExecutionEnd): Boolean =
    e.executionFailure.isDefined
}
