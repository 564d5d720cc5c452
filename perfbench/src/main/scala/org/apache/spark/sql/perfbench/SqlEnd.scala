package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end event's QueryExecution is package-private to Spark SQL; the
  * tracer needs it to pair an execution id with what the
  * QueryExecutionListener reported.
  */
object SqlEnd {
  def qe(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
