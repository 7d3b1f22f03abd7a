package org.apache.spark

/** Drains Spark's asynchronous listener bus, which Spark keeps package-private,
 * so the tracer reads task metrics only after every event of a call arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
