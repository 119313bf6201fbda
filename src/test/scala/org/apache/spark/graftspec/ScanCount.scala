package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Files the file scans of a block's SQL actions read: the `numFiles`
  * metric of every file scan in each action that completed while the
  * block ran. Like [[JobCount]] it drains the listener bus before and
  * after the block; unlike it, it counts the actions of every thread. */
object ScanCount extends AdaptiveSparkPlanHelper {

  /** The block's result and the number of files its file scans read. */
  def of[T](spark: SparkSession)(body: => T): (T, Long) = {
    val n = new AtomicLong
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.addAndGet(collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val r = body
      bus.waitUntilEmpty()
      (r, n.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
