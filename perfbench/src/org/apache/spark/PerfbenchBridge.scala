package org.apache.spark

/** The listener bus is asynchronous and its drain call is `private[spark]`.
  * Trace counters are read only after every event posted so far has been
  * delivered, or the last jobs of a run would be missing from them.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
