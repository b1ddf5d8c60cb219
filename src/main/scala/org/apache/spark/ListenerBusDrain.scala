package org.apache.spark

/** Spark's listener bus is private to the `org.apache.spark` package:
  * this is the program's one way in, to wait until every posted event
  * has reached its listeners before a listener's totals are read. */
object ListenerBusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
