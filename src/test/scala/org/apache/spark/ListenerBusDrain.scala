package org.apache.spark

/** Test helper: blocks until every event posted to the SparkContext's
  * listener bus so far has been delivered (the bus is private[spark]).
  * QueryExecutionListener callbacks ride this bus, so a test that counts
  * them drains it before and after the work it measures. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
