package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. They are
  * package-private, so this object lives under `org.apache.spark.sql`;
  * it only reads, and nothing in the engine calls it.
  */
object SparkAccess {

  /** Blocks until every posted listener event has been delivered, so the
    * tracer's per-operation counters are complete before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The `QueryExecution` that ran, carried by the end event. */
  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe)
}
