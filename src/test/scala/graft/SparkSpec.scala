package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session (one JVM-wide session; suites grab it lazily). */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** `body`'s result and the number of Spark jobs it launched. Only this
    * thread's jobs count: they are matched by a job group set for the
    * call, and the listener bus is drained before the count is read. */
  def countJobs[A](body: => A): (A, Int) = {
    val group = s"count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val a = body
      GraftBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result and the ids of the RDDs it left persisted (in
    * `getPersistentRDDs` after the call, not before). That map holds its
    * RDDs weakly, so a leaked generation could be garbage collected and
    * drop out of it mid-call; every plan executed during the call is
    * therefore held until the ids are read. */
  def leftPersisted[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        held.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = held.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      GraftBus.drain(sc)
      (a, sc.getPersistentRDDs.keySet.toSet -- before)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  def checkpointsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
      .toSet
}
