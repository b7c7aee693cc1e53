package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning time of a finished SQL execution, read from the query
  * execution Spark attaches to the end event (a package-private field).
  * `QueryExecutionListener` sees the same object but not its execution
  * id, which is what ties it to the job group that ran it. */
object ExecutionPlanning {

  /** Analysis + optimization + physical planning, in milliseconds. */
  def millis(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
}
