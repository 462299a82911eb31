package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` `Dataset.ofRows`: a DataFrame straight from
  * a logical plan, analyzed eagerly like `spark.sql`'s own (used for a parse
  * tree that was transformed before analysis). */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
