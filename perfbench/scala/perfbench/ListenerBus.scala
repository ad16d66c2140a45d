package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads listener counters and the live heap only after
  * every posted event was delivered. */
object PerfbenchListenerBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
