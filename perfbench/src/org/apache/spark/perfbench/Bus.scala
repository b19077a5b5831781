package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark drains it before it
  * reads its own listener's counters, so a count never depends on how far
  * the asynchronous bus has got.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
