package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs are attributed through a
  * local property, which Spark copies to the broadcast and adaptive-query
  * jobs the block's queries submit from other threads. */
object JobCounter {

  private val Key = "graft.test.jobCounter"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Key, previous)
      sc.removeSparkListener(listener)
    }
  }
}
