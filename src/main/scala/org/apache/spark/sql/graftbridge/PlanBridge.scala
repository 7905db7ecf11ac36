package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Dataset ⇄ LogicalPlan bridge for an extension's own logical node.
  * Spark 4 scopes a Dataset's logical plan, the Dataset-from-plan
  * constructor and the session's planner `private[sql]`; like
  * [[ColumnBridge]], this reaches them from an `org.apache.spark.sql`
  * subpackage. */
object PlanBridge {
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  def dataset[T](spark: SparkSession, plan: LogicalPlan)(implicit enc: Encoder[T]): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession], plan)

  /** The strategies the session's planner tries, injected ones included. */
  def strategies(spark: SparkSession): Seq[SparkStrategy] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies
}
