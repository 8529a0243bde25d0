package org.apache.spark

/** Lives in Spark's package to reach the listener bus, which is
  * `private[spark]`: the tracer waits for it to drain before it reads
  * what its listener recorded. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
