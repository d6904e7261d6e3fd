package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.StageInfo

/** Dev profiling harness, the local[N] stand-in for the Spark UI's stage
  * page. Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StageProfile q_x"
  * Each query runs SPARK_GRAFT_PROFILE_RUNS times (default 2), printing
  * every run's wall time; the last run is profiled through
  * `SparkCounters.measure`: a per-stage table (each stage named by the
  * operators it ran, `GraftBus.scopeNames`), the union of the job
  * intervals and the driver gap (the query wall with no job running). */
object StageProfile {
  private def wallMs(si: StageInfo): Long =
    (for { a <- si.submissionTime; b <- si.completionTime } yield b - a)
      .getOrElse(-1L)

  /** The operators the stage ran; its call site when it has no scope. */
  private def label(si: StageInfo): String =
    GraftBus.scopeNames(si) match {
      case Nil => si.name.takeWhile(_ != '\n')
      case names => names.mkString(", ")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = Harness.positiveIntEnv("SPARK_GRAFT_PROFILE_RUNS", 2)
    val spark = Harness.session(32)

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      def timed(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      def reset(): Unit = { spark.catalog.clearCache(); System.gc() }
      // run 1 warms (codegen/JIT); the LAST run is the profiled one
      val warmWalls = (1 until runs).map(_ => try timed() finally reset())
      val (wall, counts) = SparkCounters.measure(spark)(timed())
      println(f"===== $name wall=${wall}%.0f ms jobs=${counts.jobs.size} " +
        f"stages=${counts.stages.size} =====")
      println((warmWalls :+ wall).zipWithIndex
        .map { case (w, i) => f"run${i + 1}=${w}%.0f" }
        .mkString("runs (ms): ", " ", ""))
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"shR_kb"}%8s ${"shW_kb"}%8s ${"spill"}%6s ${"gc_ms"}%6s  name")
      counts.stages.sortBy(-wallMs(_)).take(40).foreach { si =>
        val m = si.taskMetrics
        println(f"${si.stageId}%6d ${wallMs(si)}%8d ${m.executorRunTime}%8d " +
          f"${si.numTasks}%6d ${m.shuffleReadMetrics.totalBytesRead / 1024}%8d " +
          f"${m.shuffleWriteMetrics.bytesWritten / 1024}%8d " +
          f"${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1024}%6d " +
          f"${m.jvmGCTime}%6d  ${label(si).take(80)}")
      }
      val taskMs = counts.stages.map(_.taskMetrics.executorRunTime).sum
      val jobMs = counts.jobUnionMs
      println(f"TOTAL task-time=${taskMs}ms job-wall=${jobMs}ms " +
        f"driver-gap=${wall - jobMs}%.0f ms (query wall ${wall}%.0f ms)")
      reset()
    }
    spark.stop()
  }
}
