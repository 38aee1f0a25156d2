package org.apache.spark

/** The listener bus is package-private; a test that counts jobs or stages
  * waits for it to deliver every event before it reads the counts. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
