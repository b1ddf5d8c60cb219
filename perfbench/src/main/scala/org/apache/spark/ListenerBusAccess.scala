package org.apache.spark

/** Spark's listener bus is private to the `org.apache.spark` package:
  * this is the benchmark's one way in, to wait until every posted event
  * has reached its listeners. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
