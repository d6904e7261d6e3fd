package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the id of the load,
  * read or query the span belongs to; `parent` is 0 for the op's root. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the benchmark's calls into the library. Spans are
  * kept in memory and written out when the run ends. When `enabled` is
  * false, `span` runs its body with no bookkeeping at all; `op` still
  * times the op, because op latency is an end-to-end metric. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var currentOp = 0

  /** Time one op (a root span); returns the body's value and seconds. */
  def op[A](layer: String, name: String)(body: => A): (A, Double) = {
    currentOp = nextId
    val t0 = System.nanoTime()
    val a = span(layer, name)(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, currentOp, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** A completed job, in epoch milliseconds as the scheduler stamps it. */
final case class JobRun(id: Int, startMs: Long, endMs: Long)

/** One write seen by the query-execution listener. */
final case class WriteRun(path: String, rows: Long, files: Long)

/** Spark's own counters for the traced phase: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for planning
  * time (QueryPlanningTracker phases) and per-write row and file counts. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRun]
  val writes = ArrayBuffer.empty[WriteRun]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  var stages, tasks, queryExecutions = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputBytes, inputBytes = 0L
  var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += JobRun(e.jobId, s, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      taskWaitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      gcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    queryExecutions += 1
    planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    qe.executedPlan.foreach {
      case w: DataWritingCommandExec =>
        def metric(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        val path = w.cmd match {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            c.outputPath.toString
          case _ => ""
        }
        writes += WriteRun(path, metric("numOutputRows"), metric("numFiles"))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Interval arithmetic over spans and jobs. */
object Intervals {
  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0.0
    var first = true
    clipped.foreach { case (a, b) =>
      if (first || a > end) { total += b - a; end = b; first = false }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (c.startNs / 1e9, c.endNs / 1e9))
      s.id -> (s.seconds - covered(s.startNs / 1e9, s.endNs / 1e9, kids))
    }.toMap
  }
}
