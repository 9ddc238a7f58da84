package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into `private[sql]` Dataset construction — the seam that
  * lets graft's custom logical operators ([[graft.plans.AsOfJoinNode]])
  * surface as ordinary DataFrames without a parser extension — and
  * into the `private[spark]` listener bus and the `private[sql]`
  * fields of a SQL execution end.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wait until the context's listener bus has delivered every event
    * posted so far (times out after 10 s). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A named execution end's name, `QueryExecution`, duration (ns) and
    * failure; None for an unnamed one. This is the filter of
    * `ExecutionListenerBus.shouldReport` minus its match on the
    * session. */
  def executionEnd(e: SparkListenerSQLExecutionEnd)
      : Option[(String, QueryExecution, Long, Option[Throwable])] =
    e.executionName.map(name => (name, e.qe, e.duration, e.executionFailure))
}
