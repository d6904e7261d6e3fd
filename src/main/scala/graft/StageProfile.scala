package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._

/** Dev profiling harness (optimization rounds): runs one or more queries
  * with a listener that aggregates per-stage wall/task metrics, printing
  * a stage table per query — the local[N] stand-in for the Spark UI's
  * stage page (guide §1.1/§7.1: decide whether time goes to shuffle
  * read, compute, or scheduling before touching anything).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StageProfile q_x q_y"
  * Each query runs SPARK_GRAFT_PROFILE_RUNS times (default 2) and every
  * run's wall time is printed, so the first (plan compile + JIT) and the
  * last (warm) read side by side. The last run is profiled: per completed
  * stage, wall ms, summed task time, shuffle read/write bytes, spill, task
  * count — plus a per-query job count and total scheduled-stage wall.
  */
object StageProfile {
  private final case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shRead: Long, shWrite: Long,
      spill: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = Harness.positiveIntEnv("SPARK_GRAFT_PROFILE_RUNS", 2)
    val spark = Harness.session(32)

    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {
            a <- si.submissionTime; b <- si.completionTime
          } yield b - a).getOrElse(-1L)
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
            wall, m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      def timed(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      // run 1 warms (codegen/JIT); the LAST run is the profiled one
      val warmWalls = (1 until runs).map { _ =>
        val w = timed()
        spark.catalog.clearCache()
        System.gc()
        w
      }
      // drain the bus BEFORE clearing so a prior run's late events can't
      // bleed into this query's table
      GraftBus.drain(spark.sparkContext)
      listener.synchronized { stages.clear(); jobs = 0 }
      val wall = timed()
      GraftBus.drain(spark.sparkContext)
      val (nJobs, table) = listener.synchronized { (jobs, stages.toList) }
      println(f"===== $name wall=${wall}%.0f ms jobs=$nJobs stages=${table.size} =====")
      println((warmWalls :+ wall).zipWithIndex
        .map { case (w, i) => f"run${i + 1}=${w}%.0f" }
        .mkString("runs (ms): ", " ", ""))
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"shR_kb"}%8s ${"shW_kb"}%8s ${"spill"}%6s ${"gc_ms"}%6s  name")
      table.sortBy(-_.wallMs).take(40).foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.taskMs}%8d ${r.tasks}%6d " +
          f"${r.shRead / 1024}%8d ${r.shWrite / 1024}%8d ${r.spill / 1024}%6d " +
          f"${r.gcMs}%6d  ${r.name.take(60)}")
      }
      val sumWall = table.map(_.wallMs).sum
      val sumTask = table.map(_.taskMs).sum
      println(f"TOTAL stage-wall=${sumWall}ms task-time=${sumTask}ms " +
        f"(query wall ${wall}%.0f ms; gap = driver/planning/scheduling)")
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
