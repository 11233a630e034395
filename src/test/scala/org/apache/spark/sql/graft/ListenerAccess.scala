package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark internals the job-counting specs read:
  * draining the listener bus (so a count taken after an action is
  * complete) and the `QueryExecution` an execution-end event carries.
  */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe)
}
