package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, on any thread, including jobs
  * adaptive execution submits. The listener bus is drained before the
  * listener is added and again before it is read, so no earlier job
  * leaks in and no job of the block is missed. Lives in Spark's package
  * because the listener bus is private to it.
  */
object JobCount {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
