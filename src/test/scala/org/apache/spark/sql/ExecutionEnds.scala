package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end event Spark posts after a named action, built by hand so a
  * spec can feed a listener many of them without running as many
  * actions. The fields it sets are `private[sql]`. */
object ExecutionEnds {
  def apply(qe: QueryExecution, action: String, durationNs: Long,
      error: Option[String]): SparkListenerSQLExecutionEnd = {
    val e = SparkListenerSQLExecutionEnd(0L, System.currentTimeMillis(),
      error.orElse(Some("")))
    e.executionName = Some(action)
    e.duration = durationNs
    e.qe = qe
    e
  }
}
