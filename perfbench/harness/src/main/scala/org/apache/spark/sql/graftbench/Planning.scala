package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning time of a finished SQL execution, read from the
  * `QueryExecution` Spark attaches to its end event (`private[sql]`).
  * Reading it here replaces a registered QueryExecutionListener, which
  * measured +3 s per query_mix pass of tracing overhead. */
object Planning {
  def phasesMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
