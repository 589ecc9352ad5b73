package org.apache.spark

/** The listener bus is package-private; the tracer must see every
  * event of a run before it sums them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
