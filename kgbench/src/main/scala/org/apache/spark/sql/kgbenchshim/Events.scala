package org.apache.spark.sql.kgbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-internal accessors the traced run needs: the query execution an
  * SQL-execution-end event carries, its name and duration, and a way to wait until
  * the asynchronous listener bus has delivered every event. */
object Events {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
  def name(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
