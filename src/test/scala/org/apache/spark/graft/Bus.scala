package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; a spec drains it before it reads
  * its own listener's counters, so a count never depends on how far the
  * asynchronous bus has got.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
