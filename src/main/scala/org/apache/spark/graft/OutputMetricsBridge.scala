package org.apache.spark.graft

import org.apache.spark.TaskContext

/** Bridge into `private[spark]` task output metrics. Spark's file-format
  * writes report a task's written bytes and rows through their stats
  * tracker; a writer that drives parquet OutputWriters itself (the
  * catalog's fanout writer) adds its committed totals here, so listeners
  * see catalog writes as sink volume like any other file write. */
object OutputMetricsBridge {
  def add(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}
