package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread (and on the
  * threads Spark SQL hands its local properties to, such as broadcast
  * builds). Lives in Spark's package for the one internal it needs:
  * draining the listener bus before reading the count.
  */
object JobCounter {
  private val TagKey = "graft.test.jobTag"

  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(TagKey) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val previous = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, n.get)
    } finally {
      sc.setLocalProperty(TagKey, previous)
      sc.removeSparkListener(listener)
    }
  }
}
