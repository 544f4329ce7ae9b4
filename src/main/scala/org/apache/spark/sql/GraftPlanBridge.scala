package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.util.QueryExecutionListener

/** The `private[sql]` doors a plan-level library extension needs:
  * wrapping a custom [[LogicalPlan]] node into a user-facing DataFrame,
  * and listing a session's query execution listeners so one can be
  * registered at most once. Everything else in graft.plans stays in
  * graft's own package — this object exists solely because
  * `Dataset.ofRows` and `listListeners` are package-private.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def listeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
