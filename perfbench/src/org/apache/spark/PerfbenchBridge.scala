package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * metrics read before the bus is empty would miss late job and stage
  * events. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
