package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `Dataset.ofRows` (a DataFrame over an already-analyzed plan, with a fresh
  * `QueryExecution`) is `private[sql]` in Spark 4; the facade needs it to
  * run a cached analyzed plan without re-parsing its SQL text. Same pattern
  * as ColumnBridge.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
