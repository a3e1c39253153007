package org.apache.spark.sql.graft

import java.util.concurrent.CompletableFuture
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.status.api.v1.{JobData, StageData}
import org.apache.spark.util.ThreadUtils

/** Bridge to `private[sql]` Column↔Expression and plan↔Dataset conversions
  * (Spark 4.x moved Column onto ColumnNode; classic sessions convert via
  * ExpressionUtils), to session cloning, to thread-local capture for
  * background queries and to the `private[spark]` listener bus and status
  * store. This is the only place the library reaches into Spark internals.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Wrap a logical plan (e.g. a custom operator node) as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** A copy of `spark` with `confs` set on the copy only. The clone shares
    * the SparkContext, the catalog and the cached data, and starts with
    * the parent's temp views, functions and query-execution listeners;
    * its SQLConf is its own, so nothing set here reaches the parent or a
    * query running on it. */
  def cloneSession(spark: SparkSession,
      confs: Iterable[(String, String)]): SparkSession = {
    val clone = classic(spark).cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  // daemon, unbounded: every background query starts at once, and idle
  // threads retire after a minute
  private lazy val capturedPool =
    ThreadUtils.newDaemonCachedThreadPool("graft-token")

  /** Run `body` on a shared pool thread with the CALLER's active session
    * and local properties (job group, job tags, scheduler pool) captured
    * at submission, as a thread the caller started would have inherited
    * them. */
  def submitCaptured[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(classic(spark), capturedPool)(body)

  /** Block until every listener event posted so far has been delivered
    * (the bus is asynchronous); false if `timeoutMs` ran out first. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Every job Spark's status store holds. The store is kept by the
    * always-on `AppStatusListener`, UI or not, and evicts the oldest
    * finished jobs past `spark.ui.retainedJobs`. */
  def jobs(sc: SparkContext): Seq[JobData] = sc.statusStore.jobsList(null)

  /** Every attempt of stage `stageId` the status store holds: none once
    * `spark.ui.retainedStages` has evicted the stage. */
  def stageAttempts(sc: SparkContext, stageId: Int): Seq[StageData] =
    sc.statusStore.stageData(stageId)
}
