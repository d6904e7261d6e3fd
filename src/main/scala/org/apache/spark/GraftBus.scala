package org.apache.spark

/** Access to the `private[spark]` listener-bus drain. Listener events
  * (job starts, stage completions, task metrics) arrive on a background
  * thread, so a reader drains the bus before it reads a listener's
  * counters. Lives in this package only for access. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
