package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test-scope access to the `private[spark]`/`private[sql]` members a
  * plan census needs: the query execution an SQL execution's end event
  * carries, and a drain of the listener bus. */
object ExecutionBridge {
  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(end.qe)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
