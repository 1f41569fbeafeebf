package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The package-private hooks the benchmark's tracing needs. */
object PerfbenchAccess {
  /** Block until every listener has seen every event posted so far, so
    * span statistics are read after the events they cover arrived.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports: the link between
    * a `QueryExecutionListener` callback and the execution id its jobs carry.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
