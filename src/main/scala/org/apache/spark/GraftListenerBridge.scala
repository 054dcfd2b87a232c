package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps
  * package-private: a count of listener events is exact only after
  * the bus has delivered every event posted so far. */
object GraftListenerBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
