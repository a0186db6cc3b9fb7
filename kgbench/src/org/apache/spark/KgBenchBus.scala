package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark reads its
  * listener only after every queued event has been delivered. */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
