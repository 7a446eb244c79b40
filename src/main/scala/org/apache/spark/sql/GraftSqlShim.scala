package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access shim for Spark members that are `private[sql]` or
  * `private[spark]` — Dataset construction from a LogicalPlan, the
  * Column <-> Expression bridge and the listener bus — the standard
  * pattern third-party Spark extension libraries use (accessed at package
  * scope; no internals are modified). */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column <-> Expression bridge (the classic-API helpers are
    * `private[sql]`; same access-shim rationale as ofRows). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Returns once the listener bus has delivered every event posted
    * before the call, to every listener (SparkListeners and, through
    * their bus queue, StreamingQueryListeners); throws a TimeoutException
    * if that takes over 10 s. The bus is `private[spark]`. */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
