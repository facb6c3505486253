package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made the Column↔Expression conversion `private[sql]`
  * (`ExpressionUtils` in classic); this object lives inside the sql
  * package namespace solely to re-export those two conversions. It keeps
  * graft expressions session-independent — no
  * `SparkSessionExtensions`/function-registry injection needed, so they
  * work in the driver's own sessions too.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (classic path). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** DataFrame from a logical plan (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's auto-broadcast threshold in bytes (negative =
    * broadcast disabled) — the same value the join planner consults.
    */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** The optimizer's size estimate for a frame (stats of the optimized
    * logical plan — what drives the planner's own broadcast decision).
    * Driver-side plan analysis only; runs no job.
    */
  def sizeEstimate(df: org.apache.spark.sql.DataFrame): BigInt =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.stats.sizeInBytes

  /** The job group a job was submitted under, read with Spark's own
    * (`private[spark]`) property key.
    */
  def jobGroup(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID)))
}
