package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Listener-side access the public API does not offer. */
object Bridge {
  /** Wait until every queued listener event was delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** An action's end: (SQL execution id, action name, its query
    * execution, end in epoch ms, duration in ns, failed) — the event the
    * query-execution listeners are called from, here with the id its jobs
    * carry. */
  def actionEnd(e: SparkListenerEvent): Option[(Long, String, QueryExecution, Long, Long, Boolean)] =
    e match {
      case x: SparkListenerSQLExecutionEnd if x.qe != null =>
        Some((x.executionId, x.executionName.getOrElse(""), x.qe, x.time, x.duration,
          x.executionFailure.isDefined))
      case _ => None
    }
}
