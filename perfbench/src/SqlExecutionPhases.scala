package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries is `private[sql]`;
  * this reads its Catalyst phase durations (ms) for the benchmark's
  * tracer. Empty when the event carries no QueryExecution. */
object SqlExecutionPhases {
  def apply(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty)
}
