package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. Events
  * reach listeners asynchronously; the benchmark drains the bus at span
  * boundaries so task and job counts land in the span that caused them.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
