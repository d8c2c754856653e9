package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs: draining the listener bus so
  * every event of an op has arrived before it is attributed, and the
  * QueryExecution an SQL execution-end event carries (its phase tracker
  * and executed plan). Both are `private[spark]`, hence this package. */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
