package graft

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one listener on Spark's events, used through `measure`. Jobs and
  * stages count when their properties carry the call's job group, so
  * jobs other threads launch meanwhile do not; queries are every query
  * the session finished during the call (they carry no job group). */
final class SparkCounters private (private val group: String)
    extends SparkListener with QueryExecutionListener {
  import SparkCounters._
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[StageInfo]
  private val queries = mutable.ArrayBuffer.empty[QueryExecution]

  private def ours(p: java.util.Properties): Boolean =
    p != null && p.getProperty("spark.jobGroup.id") == group

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (ours(e.properties)) synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, None)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = Some(e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (ours(e.properties)) synchronized { stages += e.stageInfo }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { queries += qe }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { queries += qe }
}

object SparkCounters {
  /** A job's epoch-ms start and end (none if running at return). */
  final case class Job(id: Int, startMs: Long, endMs: Option[Long])

  /** What one call ran. A `StageInfo` is the scheduler's own record of a
    * stage: its task metrics are the stage's totals once it completed. */
  final case class Counts(jobs: Seq[Job], stages: Seq[StageInfo],
      queries: Seq[QueryExecution]) {
    /** Milliseconds in which some job ran (union of ended job spans). */
    def jobUnionMs: Long = jobs.flatMap(j => j.endMs.map((j.startMs, _)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((sum, end), (a, b)) =>
          (sum + math.max(0L, b - math.max(a, end)), math.max(end, b))
      }._1
  }

  /** `body`'s result and what it ran, read after the bus is drained. The
    * calling thread's job group is cleared on return. */
  def measure[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val c = new SparkCounters(s"measure-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    sc.setJobGroup(c.group, "SparkCounters.measure")
    val a = try body finally {
      sc.clearJobGroup()
      try GraftBus.drain(sc) finally {
        sc.removeSparkListener(c)
        spark.listenerManager.unregister(c)
      }
    }
    (a, c.synchronized(Counts(c.jobs.values.toList, c.stages.toList,
      c.queries.toList)))
  }
}
