package org.apache.spark.sql

/** graft-internal bridge to a `private[spark]` member: Bench and the specs
  * that count a query's jobs or tasks drain the listener bus through it.
  */
object GraftSqlBridge {

  /** Waits until the listener bus (private[spark]) has delivered every
    * queued event, so task counters read after an action include all of
    * that action's tasks.
    */
  def drainListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
