package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.{BusListeners, GraftBus}
import org.apache.spark.sql.functions._

class SparkCountersSpec extends SparkSpec {

  private def lastJobId(): Int =
    SparkCounters.measure(spark)(spark.range(1L).collect())._2.jobs
      .map(_.id).max

  test("a job another thread launches during measure is not counted") {
    def own(): Long = spark.range(0L, 100L, 1L, 2).agg(sum("id")).head()
      .getLong(0)
    val alone = SparkCounters.measure(spark)(own())._2.jobs.size
    assert(alone > 0)
    // started before measure: a thread inherits its parent's job group
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      try spark.range(0L, 1000L, 1L, 3).repartition(2).count()
      finally done.countDown()
    })
    other.start()
    val (_, counts) = SparkCounters.measure(spark) {
      own()
      go.countDown()
      done.await()
      own()
    }
    other.join()
    val ids = counts.jobs.map(_.id)
    assert(ids.size === 2 * alone)
    // the other thread's jobs took ids between this call's two actions
    assert(ids.max - ids.min + 1 > ids.size)
  }

  test("a broadcast join plus a scalar subquery counts every job it ran") {
    spark.range(0L, 5000L, 1L, 4)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .createOrReplaceTempView("counters_fact")
    spark.range(0L, 50L).select(col("id").as("k"), lit("d").as("name"))
      .createOrReplaceTempView("counters_dim")
    val before = lastJobId()
    val (rows, counts) = SparkCounters.measure(spark)(spark.sql(
      """SELECT /*+ BROADCAST(d) */ f.k, f.v, d.name
        |FROM counters_fact f JOIN counters_dim d ON f.k = d.k
        |WHERE f.v > (SELECT avg(v) FROM counters_fact)""".stripMargin)
      .collect())
    val after = lastJobId()
    assert(rows.nonEmpty)
    val plan = counts.queries.map(_.executedPlan.toString).mkString("\n")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("Subquery"))
    // every job id allocated between the two markers is this call's
    assert(counts.jobs.size === after - before - 1)
    assert(counts.jobs.size >= 2)
    assert(counts.jobs.forall(_.endMs.isDefined))
  }

  test("the stages' task counts sum to the tasks the query ran") {
    val (_, counts) = SparkCounters.measure(spark)(
      spark.range(0L, 1000L, 1L, 3).groupBy((col("id") % 5).as("g"))
        .count().collect())
    val tracker = spark.sparkContext.statusTracker
    val ran = counts.jobs.flatMap(j => tracker.getJobInfo(j.id).get.stageIds)
      .distinct.flatMap(tracker.getStageInfo(_))
      .map(s => s.numCompletedTasks + s.numFailedTasks).sum
    assert(ran >= 4) // 3 map tasks and at least one reduce task
    assert(counts.stages.map(_.numTasks).sum === ran)
    assert(counts.stages.forall(_.completionTime.isDefined))
  }

  test("the stages of a measured shuffle join carry an Exchange label") {
    val left = spark.range(0L, 1000L, 1L, 3).select(col("id").as("k"))
    val right = spark.range(0L, 500L, 1L, 2).select(col("id").as("k"))
    val (n, counts) = SparkCounters.measure(spark)(
      left.join(right.hint("shuffle_merge"), "k").count())
    assert(n === 500L)
    val labels = counts.stages.map(GraftBus.scopeNames)
    assert(labels.exists(_.contains("Exchange")), labels)
  }

  test("the listener and the job group are removed after a body that throws") {
    val sc = spark.sparkContext
    def registered(): Int =
      BusListeners.sparkListeners[SparkCounters](sc).size +
        BusListeners.queryListeners(sc).count(_.isInstanceOf[SparkCounters])
    // on the context's bus and on the session's query-listener bus
    assert(SparkCounters.measure(spark)(registered())._1 === 2)
    intercept[IllegalStateException] {
      SparkCounters.measure(spark) {
        spark.range(10L).collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(registered() === 0)
    assert(sc.getLocalProperty("spark.jobGroup.id") === null)
  }
}
