package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark's package-private `Dataset.ofRows`, for a plan built outside
  * `spark.sql`: the frame's plan is analyzed eagerly.
  */
object PlanFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)
}
