package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to know that
  * every event posted so far has reached its listeners before it reads
  * them, so this accessor lives in Spark's package.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
