package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev profiling harness (optimization rounds): runs one or more queries
  * with a listener that aggregates per-stage wall/task metrics, printing
  * a stage table per query — the local[N] stand-in for the Spark UI's
  * stage page (guide §1.1/§7.1: decide whether time goes to shuffle
  * read, compute, or scheduling before touching anything).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StageProfile q_x q_y"
  * Prints, per completed stage: wall ms, summed task time, shuffle
  * read/write bytes, spill, task count — plus a per-query job count and
  * total scheduled-stage wall.
  */
object StageProfile {
  private final case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shRead: Long, shWrite: Long,
      spill: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpusFromEnv(32)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
    // A/B knob: extra session confs as "k=v;k=v" (dev-only); malformed
    // entries fail loudly and injected confs are logged (ADVICE r14)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            System.err.println(s"[profile] EXTRA_CONF injected: $k=$v")
            builder.config(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF entry lacks '=': '$kv'")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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
      // run 1 warms (codegen/JIT); the LAST run is the profiled one
      (1 until runs).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        System.gc()
      }
      // drain the bus BEFORE clearing so a prior query's late events
      // can't bleed into this query's table, and clear under the
      // listener's own lock (ADVICE r14); poll-until-stable stands in
      // for the private[spark] listenerBus.waitUntilEmpty
      def drain(): Unit = {
        var last = -1
        var stable = 0
        var waited = 0
        while (stable < 2 && waited < 5000) {
          val n = listener.synchronized { stages.size + jobs }
          if (n == last) stable += 1 else { stable = 0; last = n }
          Thread.sleep(100); waited += 100
        }
      }
      drain()
      listener.synchronized { stages.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e6
      drain() // let the listener bus drain before reading the table
      println(f"===== $name wall=${wall}%.0f ms jobs=$jobs stages=${stages.size} =====")
      val rows = stages.sortBy(-_.wallMs).take(40)
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"shR_kb"}%8s ${"shW_kb"}%8s ${"spill"}%6s ${"gc_ms"}%6s  name")
      rows.foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.taskMs}%8d ${r.tasks}%6d " +
          f"${r.shRead / 1024}%8d ${r.shWrite / 1024}%8d ${r.spill / 1024}%6d " +
          f"${r.gcMs}%6d  ${r.name.take(60)}")
      }
      val sumWall = stages.map(_.wallMs).sum
      val sumTask = stages.map(_.taskMs).sum
      println(f"TOTAL stage-wall=${sumWall}ms task-time=${sumTask}ms " +
        f"(query wall ${wall}%.0f ms; gap = driver/planning/scheduling)")
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
