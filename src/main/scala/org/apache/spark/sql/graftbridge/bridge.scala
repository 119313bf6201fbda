package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into Spark's `private[sql]` Column↔Expression conversion
 * (Spark 4 moved Column to a ColumnNode representation; this is the
 * supported internal hop for libraries that define Catalyst expressions).
 */
object Bridge extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** ASCII-table rendering (Dataset.showString is private[sql]). */
  def showString(df: org.apache.spark.sql.DataFrame, numRows: Int, truncate: Int): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .showString(numRows, truncate)

  /** `s` with every field nullable, as a file source reads a data schema
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Wait until every queued listener event was delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Listeners on the context's bus whose class name starts with `prefix`,
    * for specs that check one was removed. (The bus's total moves on its
    * own: the context cleaner removes a collected session's listener.) */
  def listenerCount(sc: SparkContext, prefix: String): Int =
    sc.listenerBus.listeners.stream().filter(_.getClass.getName.startsWith(prefix)).count().toInt

  /** Files read by the file scans of the SQL execution whose end `e` is,
    * if `ours` accepts its id (the `spark.sql.execution.id` its jobs
    * carry): the `numFiles` metric summed over every file scan of the
    * executed plan, AQE stages and subqueries included. 0 for any other
    * event. Only an accepted execution's plan is touched, so an execution
    * that failed before it was planned is never re-planned here. */
  def scannedFiles(e: SparkListenerEvent, ours: Long => Boolean): Long = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
        if x.qe != null && ours(x.executionId) =>
      collectWithSubqueries(x.qe.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    case _ => 0L
  }

  /** `numFiles` metric of every file scan in an EXECUTED plan (run an
    * action first; AQE subtrees are unwrapped). Lets specs assert
    * partition pruning by files actually touched, not plan text. */
  def scannedFileCounts(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    scanMetric(df, "numFiles")

  /** `numOutputRows` of every file scan in an EXECUTED plan: rows that
    * SURVIVED parquet pushdown (row-group min/max skipping + column-
    * index page skipping — record-level filtering is off by default).
    * Scan rows ≪ file rows is the direct evidence that a sorted
    * layout's chunk stats pruned the read. */
  def scannedOutputRows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    scanMetric(df, "numOutputRows")

  /** (root paths, read-schema field names) of every file scan in a
    * plan — lets specs assert WHICH paths a serve reads and how WIDE
    * each scan is (columnar pruning: a scan of a file that also holds
    * a vector column must not list it in ReadSchema unless that stage
    * needs it). Works on an unexecuted plan. */
  def scanReads(df: org.apache.spark.sql.DataFrame): Seq[(Seq[String], Seq[String])] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[(Seq[String], Seq[String])] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case f: FileSourceScanExec =>
        Seq((f.relation.location.rootPaths.map(_.toString).toSeq,
          f.requiredSchema.fieldNames.toSeq))
      case other =>
        (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def scanMetric(df: org.apache.spark.sql.DataFrame,
                         metric: String): Seq[Long] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case f: FileSourceScanExec => Seq(f.metrics(metric).value)
      case other =>
        (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
