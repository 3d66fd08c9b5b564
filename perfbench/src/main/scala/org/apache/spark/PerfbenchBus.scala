package org.apache.spark

/** Drains Spark's listener bus. The bus is `private[spark]`; the
  * harness needs it so that every task and job event of a finished
  * call has reached the [[perfbench.Recorder]] before the call's
  * counters are read (Spark's own test suites drain it the same way).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
