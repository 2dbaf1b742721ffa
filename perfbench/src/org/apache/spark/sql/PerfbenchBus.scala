package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private hooks of Spark that the traced run needs, so
  * they live in Spark's package. */
object PerfbenchBus {

  /** Waits until every listener has seen the events of the call that just
    * ended. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution of a named (action or command) SQL execution's
    * end event, from any session: the events a `QueryExecutionListener`
    * would see, without its filter to the session it is registered on. */
  def namedExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionName.isDefined) Option(e.qe) else None
}
