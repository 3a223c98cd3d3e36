package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries (Spark hands the same
  * object to every QueryExecutionListener). The benchmark reads it from
  * the event because only the event also carries the execution id, which
  * ties the execution to the job group that was set when it started. */
object PerfBenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
