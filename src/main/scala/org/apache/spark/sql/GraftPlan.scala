package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between graft's hand-built Catalyst plans and the public
  * DataFrame API. Spark 4 scopes `Dataset.ofRows` `private[sql]`
  * (classic/Dataset.scala); this one-file shim in the sql package wraps a
  * logical plan into a DataFrame through it, so the plan is analyzed once
  * (`sessionState.executePlan`) instead of once per Dataset operator. */
object GraftPlan {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
