package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The benchmark's tracer drains the bus after each timed operation (off
  * the clock) so every job, task and query event of that operation has
  * been delivered before its numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
