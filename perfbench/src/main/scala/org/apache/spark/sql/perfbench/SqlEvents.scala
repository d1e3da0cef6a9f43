package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution a SQL execution's end event carries (the object a
  * QueryExecutionListener receives), whose planning tracker holds the
  * Catalyst phase intervals. The field is package-private to Spark SQL. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
