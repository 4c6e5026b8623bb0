package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private hooks the traced run needs: draining the
  * listener bus at a pass boundary, so every event of the pass has been
  * delivered before it is aggregated, and reading the QueryExecution an
  * execution-end event carries (the same object a QueryExecutionListener
  * receives), so it can be attributed by the execution's job group. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
