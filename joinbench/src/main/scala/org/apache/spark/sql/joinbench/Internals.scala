package org.apache.spark.sql.joinbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals a traced run reads; both are `private[spark]`
  * or `private[sql]`. */
object Internals extends AdaptiveSparkPlanHelper {
  /** Waits until every event posted so far has reached the listeners,
    * so a query's counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of the files the finished SQL execution's scans listed
    * (Spark's task input metrics count no bytes for local parquet). */
  def scanBytes(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map { qe =>
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        .flatMap(_.metrics.get("filesSize")).map(_.value).sum
    }.getOrElse(0L)
}
