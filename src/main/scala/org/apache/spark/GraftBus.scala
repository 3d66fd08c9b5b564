package org.apache.spark

/** Drains Spark's listener bus (`private[spark]`), so a listener has seen
  * every event of a finished job before its counters are read.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
