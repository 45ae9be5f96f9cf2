package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge to Spark's `private[sql]` and `private[spark]` members
  * (the standard idiom for Spark extension libraries: a tiny object inside
  * an `org.apache.spark.sql` subpackage). It re-exposes `Dataset.ofRows`,
  * so custom logical operators defined outside Spark can be wrapped into
  * DataFrames and lowered by injected rules, and the running
  * SparkContext's own conf, which [[graft.GraftExtensions]] adjusts before
  * the engine session is built.
  */
object Bridge {
  /** Wrap an analyzed [[LogicalPlan]] as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The SparkContext's own conf, not the copy `getConf` returns: a key
    * set here before a session is built reaches that session's conf.
    */
  def sparkConf(sc: SparkContext): SparkConf = sc.conf

  /** The analyzed logical plan behind a DataFrame. */
  def planOf(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap a catalyst Expression as a Column (no session, no function
    * registry — the seam custom codegen'd kernels need when they are
    * built inside Column-composition helpers).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) expression behind a Column. */
  def expressionOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
