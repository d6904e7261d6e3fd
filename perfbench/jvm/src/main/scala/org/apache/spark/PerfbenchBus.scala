package org.apache.spark

/** Access to the `private[spark]` listener bus drain. Listener events
  * (job ends, task metrics, query-execution callbacks) arrive on a
  * background thread; the benchmark drains the bus before it reads a
  * listener's counters or an observed metric. Lives in this package only
  * for access. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
