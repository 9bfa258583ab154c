package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning time of a finished SQL execution: analysis + optimization +
  * planning from its `QueryExecution.tracker`. The end event carries the
  * `QueryExecution` only as a `private[sql]` field, hence this bridge.
  */
object PerfbenchSqlBridge {
  def planMs(e: SparkListenerEvent): Option[(Long, Long)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      Some(end.executionId -> end.qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    case _ => None
  }
}
