package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs wait on it
  * so every job event of the counted block has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
