package org.apache.spark.sql.graftbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two package-private Spark hooks the benchmark's tracer needs. */
object Bus {

  /** Block until every posted listener event has been delivered, so a
    * listener's per-span totals are complete when they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an execution-end event carries, or null when
    * the event did not come from a live Dataset action.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
