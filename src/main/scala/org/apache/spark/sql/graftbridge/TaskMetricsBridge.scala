package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext

/** Input metrics for data a task reads itself rather than through a Spark
  * file source (which updates them on its own). The increment methods are
  * `private[spark]`, hence this bridge (same pattern as [[ColumnBridge]]).
  */
object TaskMetricsBridge {
  /** Adds `bytes` and `records` to the running task's input metrics; a
    * no-op outside a task.
    */
  def recordRead(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().inputMetrics
      m.incBytesRead(bytes)
      m.incRecordsRead(records)
    }
}
