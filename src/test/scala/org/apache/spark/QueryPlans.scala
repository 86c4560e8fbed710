package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the analyzed plan of every query and command (writes
  * included) a block runs in `spark`, in completion order. The listener
  * bus is drained before the listener is added and again before it is
  * read, as in [[JobCount]], whose package this shares for the same
  * reason.
  */
object QueryPlans {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[LogicalPlan]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.analyzed); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
