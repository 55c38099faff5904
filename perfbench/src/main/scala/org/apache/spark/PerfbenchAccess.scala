package org.apache.spark

/** The listener bus is spark-private; the traced run must drain it before
  * reading an operation's job events, or late events land on the next op. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
