package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST,
  RepartitionByExpression, ResolvedHint}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def init: DataFrame =
    spark.range(0, 40).select(col("id"), (col("id") % 7).as("v"))

  /** One shuffling round: v + 1 per id. */
  private def step(df: DataFrame): DataFrame =
    df.groupBy(col("id")).agg(sum(col("v") + 1).as("v"))

  private def fixed(rounds: Int)(stepOf: Fixpoint.Generation => Unit =
      _ => ()): Fixpoint.Result =
    Fixpoint.iterate(init, rounds) { g => stepOf(g); Some(step(g.df)) }(
      (_, _) => false)

  private def vSum(df: DataFrame): Long =
    df.agg(sum(col("v"))).as[Long].head()

  test("a fixed-round iterate launches as many jobs as the hand-rolled loop") {
    // the loop shape every operator hand-rolled before the driver
    val (hand, handJobs) = countJobs {
      var cur = init.localCheckpoint()
      (1 to 3).foreach { _ =>
        val next = step(cur).localCheckpoint()
        Fixpoint.releaseLocal(cur)
        cur = next
      }
      cur
    }
    val (driven, drivenJobs) = countJobs(fixed(3)())
    assert(drivenJobs === handJobs)
    assert(driven.rounds === 3)
    assert(vSum(driven.last.df) === vSum(hand))
    assert(vSum(driven.last.df) === vSum(init) + 3 * 40)
  }

  test("reading rows adds one count per generation, the first time only") {
    // the jobs of one count over checkpointed blocks (under AQE, a map
    // stage job and a result job)
    val cp = init.localCheckpoint()
    val (_, perCount) = countJobs(cp.count())
    Fixpoint.releaseLocal(cp)
    val (_, base) = countJobs(fixed(3)())
    val (res, counted) = countJobs(fixed(3) { g => g.rows; g.rows })
    // init + rounds 1 and 2 were stepped from; round 3 is the last
    assert(counted === base + 3 * perCount)
    val (rows, first) = countJobs(res.last.rows)
    val (_, again) = countJobs(res.last.rows)
    assert(rows === 40L)
    assert(first === perCount)
    assert(again === 0)
  }

  test("after iterate returns only the last generation is persisted") {
    val (res, left) = leftPersisted(fixed(4)(_.rows))
    assert(res.rounds === 4)
    assert(left.size === 1)
    assert(left === checkpointsRead(res.last.df))
  }

  test("converged and None stop the loop; maxRounds does not count as stopping") {
    val conv = Fixpoint.iterate(init, 10)(g => Some(step(g.df)))(
      (prev, next) => prev.round == 1 && next.round == 2)
    assert(conv.rounds === 2)
    assert(conv.stopped)
    assert(vSum(conv.last.df) === vSum(init) + 2 * 40)

    val none = Fixpoint.iterate(init, 10)(g =>
      if (g.round == 3) None else Some(step(g.df)))((_, _) => false)
    assert(none.rounds === 3)
    assert(none.stopped)

    val capped = fixed(4)()
    assert(capped.rounds === 4)
    assert(!capped.stopped)

    val zero = fixed(0)()
    assert(zero.rounds === 0)
    assert(!zero.stopped)
    assert(vSum(zero.last.df) === vSum(init))
  }

  /** Directed chain 0 -> 1 -> ... -> n-1 plus the BFS expansion that
    * [[graft.operators.ShortestPaths.fromSources]] runs. */
  private def chainBfs(n: Int, maxHops: Int): Fixpoint.Frontier = {
    val e = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    Fixpoint.frontier(
      Seq((0L, 0L)).toDF("seed", "node"), Seq("seed", "node"), maxHops) {
      (frontier, seen) =>
        frontier.join(e, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"))
          .join(seen, Seq("seed", "node"), "left_anti")
    }
  }

  test("frontier returns counted layers and reports the hop budget") {
    val (full, left) = leftPersisted(chainBfs(5, 10))
    assert(full.layers.map(_.rows) === Vector(1L, 1L, 1L, 1L, 1L))
    assert(full.layers.map(_.df.as[(Long, Long)].head()._2) ===
      Vector(0L, 1L, 2L, 3L, 4L))
    assert(!full.hitMaxHops)
    // the seen frames and the terminal empty layer are released
    assert(left === full.layers.flatMap(l => checkpointsRead(l.df)).toSet)

    val cut = chainBfs(5, 2)
    assert(cut.layers.size === 3)
    assert(cut.hitMaxHops)
  }

  private def repartitions(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r
    }.size

  private def broadcasts(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }.size

  test("pinSmall and broadcastSmall act only at or under the row ceiling") {
    val df = spark.range(10).toDF("k")
    val keys = Seq("k")
    for (rows <- Seq(Fixpoint.PinMaxRows + 1, -1L)) {
      assert(Fixpoint.pinSmall(df, rows, keys) eq df)
      assert(repartitions(Fixpoint.pinSmall(df, rows, keys)) === 0)
      assert(Fixpoint.broadcastSmall(df, rows) eq df)
      assert(broadcasts(Fixpoint.broadcastSmall(df, rows)) === 0)
    }
    for (rows <- Seq(0L, 10L, Fixpoint.PinMaxRows)) {
      assert(repartitions(Fixpoint.pinSmall(df, rows, keys)) === 1)
      assert(broadcasts(Fixpoint.broadcastSmall(df, rows)) === 1)
    }
    // the pin spreads over the session's shuffle partitions
    assert(Fixpoint.pinSmall(df, 10L, keys).rdd.getNumPartitions ===
      Fixpoint.shufflePartitions(spark))
  }
}
