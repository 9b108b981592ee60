package org.apache.spark.sql.graftshim

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Column <-> Expression and Dataset <-> LogicalPlan bridge. Spark 4 made
  * the direct constructors `private[sql]`; this shim lives in the sql
  * package namespace to expose exactly the conversions custom-Expression
  * and custom-LogicalPlan libraries need (same mechanism Spark's own
  * extension libraries use).
  */
object Bridge {
  def toCol(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for wrapping in custom nodes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Stable identity string for a session, without retaining the session
    * object itself (cache keys that must not pin stopped sessions).
    */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Drain the async listener bus — lets tests assert on
    * QueryExecutionListener-collected plan facts deterministically
    * (the bus is `private[spark]`, hence the shim placement).
    */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Idempotently add a planner strategy to the session (the public
    * `experimental.extraStrategies` hook; GraftExtensions injects the
    * same strategy at session build time for the extensions path).
    */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // synchronize the check-then-act: concurrent first uses on one
    // session must not lose a registration racing on the plain var
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** The live conf of the active SparkContext, if one is running
    * (`SparkContext.getActive` and `sc.conf` are `private[spark]`).
    * Settings written here reach sessions whose state is built later.
    */
  def activeConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
