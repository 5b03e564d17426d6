package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query execution an execution-end event carries (the field
  * is `private[sql]`), so the tracer can tie what its
  * `QueryExecutionListener` hears about a `QueryExecution` to the SQL
  * execution id its `SparkListener` saw start and end. */
object EndEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
