package org.apache.spark

/** Test access to the `private[spark]` listener-bus drain: listener
  * events arrive on a background thread, so a test drains the bus before
  * it reads a listener's counters. Lives in this package only for
  * access. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
