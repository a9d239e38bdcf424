package org.apache.spark.sql

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal package-private bridge to Spark API that is `private[sql]`
  * or `private[spark]` at the Scala level, the standard seam for an
  * extension library. */
object GraftSqlBridge {
  /** Wraps a custom [[LogicalPlan]] (e.g. [[graft.plans.AsOfJoin]]) in a
    * DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session sharing `spark`'s context, catalog and cached data,
    * starting from a copy of its conf, temp views, functions and
    * QueryExecutionListeners. */
  def cloned(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Waits up to `timeoutMs` until every posted listener event has been
    * delivered; false if the bus was still busy at the deadline. */
  def waitForListeners(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }

  /** Unloads every state-store provider loaded in this JVM. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()
}
