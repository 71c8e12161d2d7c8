package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to the `private[sql]` session and Dataset factories.
  * `Dataset.ofRows` constructs a DataFrame from a LogicalPlan, which
  * library code that introduces its own plan nodes (graft.plans.CosineTopK)
  * needs — the standard technique for third-party plan extensions.
  * `cloneSession` copies a session with all its confs, so `graft.operators
  * .Pinned` can plan under a scoped conf without writing the caller's.
  */
object GraftPlanBridgeImpl {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[SparkSession].cloneSession()
}
