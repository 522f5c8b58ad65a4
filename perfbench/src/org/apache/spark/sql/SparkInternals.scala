package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads, which are private to
  * Spark's packages, hence this file's package.
  */
object SparkInternals {

  /** Waits until every listener event posted so far has been delivered,
    * so the trace reads complete job, task and query records.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query behind a finished SQL execution. A QueryExecutionListener
    * gets the same object but not the execution id that ties it to the
    * span whose job tags started it; this event has both.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
