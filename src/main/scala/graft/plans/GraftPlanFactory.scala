package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the package-private classic Dataset factory so graft can
  * materialize DataFrames from its own logical plan nodes (the supported
  * pattern for libraries adding whole operators — see e.g. delta/qbeast). */
object GraftPlanFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The session's SQL parser, unanalyzed: table names stay unresolved. */
  def parsePlan(spark: SparkSession, text: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(text)
}
