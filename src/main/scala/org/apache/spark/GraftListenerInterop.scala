package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; [[graft.util.StageLog]]
  * needs to drain it so job, stage and task-end events land in the
  * right measurement window (they are delivered asynchronously — reading a
  * listener-maintained metric right after an action can miss the
  * slowest task, and a late event would be attributed to the NEXT
  * workload after a reset). Same re-export pattern as
  * `org.apache.spark.sql.GraftInterop`; no Spark internals modified.
  */
object GraftListenerInterop {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
