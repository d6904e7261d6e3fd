package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Access to the `private[spark]` listener-bus drain and RDD operation
  * scopes. Listener events (job starts, stage completions, task metrics)
  * arrive on a background thread, so a reader drains the bus before it
  * reads a listener's counters. Lives in this package only for access. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The distinct operation-scope names of `stage`'s RDDs in RDD id
    * order (`Exchange`, `WholeStageCodegen (2)`, ...): the operators the
    * stage ran. A stage's own name is the call site that submitted it,
    * which for a stage AQE submits is a Spark thread-pool frame. */
  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
