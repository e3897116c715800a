package org.apache.spark

/** Access to `private[spark]` listener-bus draining: listener events arrive
  * asynchronously, so the traced run drains the bus before reading them.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
