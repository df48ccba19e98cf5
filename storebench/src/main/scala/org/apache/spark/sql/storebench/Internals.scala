package org.apache.spark.sql.storebench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the trace needs, reachable only from inside
  * the `spark.sql` package. */
object Internals {
  /** The listener bus is asynchronous: counters read before it drains
    * miss the last events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query an execution-end event reports on — the same object a
    * QueryExecutionListener receives, which ties it to an execution id. */
  def query(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
