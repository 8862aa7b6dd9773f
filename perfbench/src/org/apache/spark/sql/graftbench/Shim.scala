package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the two Spark internals the benchmark's tracer needs and that
  * Spark keeps package-private: draining the listener bus (so counters
  * are complete before they are read) and the `QueryExecution` an SQL
  * execution-end event carries (its planning-phase tracker). */
object Shim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe)
}
