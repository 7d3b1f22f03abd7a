package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
 * a test's `SparkListener` has seen them all (the bus is Spark-private). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
