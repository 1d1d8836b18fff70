package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SQLExecution, SparkStrategy}

/** `Dataset.ofRows` (a DataFrame over an already-analyzed plan, with a fresh
  * `QueryExecution`) is `private[sql]` in Spark 4; the facade needs it to
  * run a cached analyzed plan without re-parsing its SQL text. Same pattern
  * as ColumnBridge. The facade's driver snapshots also need the session's
  * catalog, a collect that keeps Spark's own row format, and a planner that
  * knows their leaf node.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** All rows of `df` as the `UnsafeRow`s its executed plan produces (one
    * Spark job, tracked like `collect`), without converting them to `Row`s. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** The catalog's current definition of the temp view `name`: a new object
    * each time the view is created or replaced. */
  def tempView(spark: SparkSession, name: String): Option[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.getRawTempView(name)

  /** Add `strategy` to the planner of `spark` unless it has it already (a
    * session built without the extensions that inject it). */
  def ensureStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val c = spark.asInstanceOf[classic.SparkSession]
    if (!c.sessionState.planner.strategies.contains(strategy))
      c.experimental.extraStrategies = c.experimental.extraStrategies :+ strategy
  }
}
