package org.apache.spark

/** Waits until every queued listener event has been delivered. The bus is
  * `private[spark]`, so this accessor lives under `org.apache.spark`. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
