package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and its drain is private[spark]: the
  * benchmark waits on it before it reads what its listener recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
