package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.util.QueryExecutionListener

/** The package-private doors graft needs: wrapping a custom
  * [[LogicalPlan]] node into a user-facing DataFrame, listing a
  * session's query execution listeners so one can be registered at most
  * once, and waiting for the listener bus to deliver every posted event
  * (graft.Harness.JobCounter). Everything else stays in graft's own
  * packages — this object exists solely because `Dataset.ofRows`,
  * `listListeners` and `listenerBus` are package-private.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def listeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
