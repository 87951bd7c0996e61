package org.apache.spark.scheduler.lakebench

import org.apache.spark.SparkContext

/** Scheduler internals the benchmark's tracing reads. */
object Bus {
  /** Waits until every listener event posted so far has been delivered,
    * so the traced run reads complete job counters. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Jobs submitted so far. The scheduler numbers jobs from 0 on the
    * submitting thread, so the next job's id is this value. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
