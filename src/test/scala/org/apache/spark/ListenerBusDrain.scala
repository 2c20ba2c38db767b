package org.apache.spark

/** Tests that count listener events wait for the bus: every event posted
  * before the call has reached every listener when it returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
