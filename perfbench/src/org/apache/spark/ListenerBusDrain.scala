package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so every
  * job and task event of a span has been delivered before the span is read. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
