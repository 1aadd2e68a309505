package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark needs. */
object PerfbenchBridge {

  /** Wait until the listener bus has delivered every posted event, so span
    * attribution and the storage status are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The executed query behind a finished SQL execution (null if none). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
