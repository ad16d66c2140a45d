package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: tests that
  * count jobs from listener events read the count only after every posted
  * event was delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
