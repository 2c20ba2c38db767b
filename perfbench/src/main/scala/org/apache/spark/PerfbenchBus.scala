package org.apache.spark

/** Lets the harness wait until every queued listener event is delivered
  * before it reads listener counters (the bus is private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
