package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark reads its
  * listener's totals only after every queued event was delivered. */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
