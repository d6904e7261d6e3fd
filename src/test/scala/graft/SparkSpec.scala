package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
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

  /** `body`'s result and the number of Spark jobs it launched (this
    * thread's jobs only: `SparkCounters.measure` scopes them). */
  def countJobs[A](body: => A): (A, Int) = {
    val (a, counts) = SparkCounters.measure(spark)(body)
    (a, counts.jobs.size)
  }

  /** `body`'s result and the ids of the RDDs it left persisted (in
    * `getPersistentRDDs` after the call, not before). That map holds its
    * RDDs weakly, so every plan the call executed is held (its
    * `Counts.queries`) until the ids are read. */
  def leftPersisted[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (a, counts) = SparkCounters.measure(spark)(body)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    java.lang.ref.Reference.reachabilityFence(counts.queries)
    (a, left)
  }

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  def checkpointsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
      .toSet
}
