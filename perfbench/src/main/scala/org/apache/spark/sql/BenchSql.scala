package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL-execution-end event belongs to; the field is not
  * public API. The traced run uses it to pair a query's planning time
  * (reported to a QueryExecutionListener) with the job group it ran in. */
object BenchSql {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
