package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-private members the traced run needs: waiting for the listener
  * bus to deliver a tick's events before it stops listening, and the query
  * execution behind an SQL execution, whose Catalyst phases it reports. */
object PerfBenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
