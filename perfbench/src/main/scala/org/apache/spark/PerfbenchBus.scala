package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced op's jobs, tasks and query-execution callbacks are all recorded
  * before the next op starts. The listener bus is package-private to Spark,
  * hence this bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
