package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts the Spark jobs a block starts, on any thread, including jobs
  * adaptive execution submits. The listener bus is drained before the
  * listener is added and again before it is read, so no earlier job
  * leaks in and no job of the block is missed. Lives in Spark's package
  * because the listener bus is private to it.
  */
object JobCount {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (out, jobs, _) = withTasks(sc)(body)
    (out, jobs)
  }

  /** [[apply]], plus the task count of each stage the block submitted
    * (a stage skipped because its shuffle output exists is not listed).
    */
  def withTasks[A](sc: SparkContext)(body: => A): (A, Int, Seq[Int]) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.add(e.stageInfo.numTasks); ()
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get, stages.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
