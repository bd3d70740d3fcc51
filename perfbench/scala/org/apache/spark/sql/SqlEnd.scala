package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries its QueryExecution in a field that is
  * package-private to Spark SQL; this links a QueryExecutionListener
  * callback to the execution id its jobs are tagged with. */
object SqlEnd {
  def qe(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
