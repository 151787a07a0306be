package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway a custom whole-operator plan needs: turn
  * a LogicalPlan containing a user-defined node into a DataFrame. Spark
  * exposes strategy REGISTRATION publicly (`SparkSessionExtensions
  * .injectPlannerStrategy`, the session's experimental methods) but
  * not plan CONSTRUCTION — the standard extension pattern (Delta, Iceberg,
  * Sedona all carry the same shim) is this minimal package-located bridge. */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
