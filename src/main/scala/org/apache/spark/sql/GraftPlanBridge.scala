package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Dataset construction — the seam that
  * lets graft's custom logical operators ([[graft.plans.AsOfJoinNode]])
  * surface as ordinary DataFrames without a parser extension — and
  * into the `private[spark]` listener bus.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wait until the context's listener bus has delivered every event
    * posted so far (times out after 10 s). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
