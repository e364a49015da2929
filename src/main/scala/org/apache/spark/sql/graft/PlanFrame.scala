package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Wraps a logical plan built outside the DataFrame API (a custom node
  * such as [[graft.plans.PerKeySeries]]) in a DataFrame. It lives under
  * `org.apache.spark.sql` because `classic.Dataset.ofRows` is
  * `private[sql]`.
  */
object PlanFrame {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
