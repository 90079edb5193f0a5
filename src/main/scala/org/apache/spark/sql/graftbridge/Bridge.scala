package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Column↔Expression conversion and
  * session function registration — the standard pattern for out-of-tree
  * Catalyst expressions (same technique every public Spark extension
  * library uses). No Spark internals are modified; this only re-exports
  * conversions and the temp-function hook. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a scalar expression builder as a SQL temp function on this
    * session (works on any session, no SparkSessionExtensions needed). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Analyzed logical plan of a DataFrame — resolved attributes for
    * building custom logical operators over existing frames. */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame (the `Dataset.ofRows`
    * private[sql] constructor — how every out-of-tree operator library
    * surfaces custom LogicalPlan nodes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's query execution planned afresh, so the caller's own
    * QueryExecution is left as it was. Its `optimizedPlan.stats` is the
    * optimizer's size estimate; its `toRdd` iterators may reuse their row
    * object between steps: copy a row before keeping it. */
  def freshExecution(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.QueryExecution =
    ofRows(df.sparkSession, analyzedPlan(df))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  /** Drain the listener bus (private[spark]) — dev profiling tools must
    * wait for async job/stage events before reading listener state. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
