package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft-internal bridge to `classic.Dataset.ofRows` (private[sql]): lift
  * an already-analyzed logical plan into a DataFrame bound to a chosen
  * session. `Dedup.containmentJoin` uses it to bind ONE logical plan to
  * two sessions — a conf-isolated `newSession()` clone that registers and
  * materialises the cache under relaxed subset-key co-partitioning, and
  * the caller session whose downstream read then substitutes the cached
  * relation by PLAN IDENTITY. (The view-based re-bind this replaces
  * missed the cache-manager match and silently recomputed the folded
  * join: measured 2.5× solo at sf0.1, 5.8× at the 100× group probe.)
  */
object GraftSqlBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Waits until the listener bus (private[spark]) has delivered every
    * queued event, so task counters read after an action include all of
    * that action's tasks.
    */
  def drainListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
