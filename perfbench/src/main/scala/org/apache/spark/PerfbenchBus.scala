package org.apache.spark

/** The listener bus is package-private; the benchmark needs one call on it.
  * After an operation returns, all of its job and task events are already
  * queued (the scheduler posts them before it wakes the caller), so
  * draining the queue is what closes the operation's attribution window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
