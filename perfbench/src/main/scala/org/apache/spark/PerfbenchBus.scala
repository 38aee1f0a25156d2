package org.apache.spark

/** The listener bus is package-private; the tracer has to wait for it to
  * deliver every stage and task record of a span before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
