package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Lives in Spark's package to reach two members Spark keeps
  * package-private: the listener bus, so the traced run can wait until
  * every event posted so far is delivered instead of sleeping a fixed
  * time; and the QueryExecution an execution-end event carries (the
  * object a QueryExecutionListener receives), read from the bus so
  * queries of every session are seen.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
