package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The loop driver for iterative operators: each generation of a
  * fixpoint ([[iterate]]) or BFS ([[frontier]]) loop is cut with an eager
  * `localCheckpoint()` — otherwise the plan grows by a round's joins per
  * round and driver-side planning dominates — counted at most once, and
  * released as soon as its successor is materialized.
  *
  * Why release eagerly: Spark's ContextCleaner does drop a checkpointed
  * generation's blocks, but only after the driver garbage-collects the
  * RDD object behind it, which on a large, quiet driver heap can be many
  * rounds later (the periodic forced GC runs every 30 minutes by
  * default). Until then every superseded generation competes with the
  * live one for executor storage; at tokenizer-training round counts
  * (tens of thousands) that means eviction of blocks the loop still
  * needs. Releasing in the loop bounds storage to two generations
  * without depending on GC timing.
  *
  * Loops that keep hand-rolled generations (two interleaved generations,
  * step-scratch frames) use [[releaseLocal]], [[pinSmall]] and
  * [[broadcastSmall]] from here. */
object Fixpoint {

  /** One checkpointed generation; `round` counts the steps that produced
    * it (0 for the init). `rows` is one count over the checkpointed
    * blocks, run on first read only — read it while the generation is
    * live. */
  final class Generation private[core] (val df: DataFrame, val round: Int) {
    lazy val rows: Long = df.count()
  }

  /** `last` stays checkpointed (the caller's output reads it); `stopped`
    * is false when the loop ran out of `maxRounds`. */
  final case class Result(last: Generation, stopped: Boolean) {
    def rounds: Int = last.round
  }

  /** Checkpoint `init`, then run up to `maxRounds` rounds: `step` derives
    * the next generation (None stops the loop without one), which is
    * checkpointed; `converged(prev, next)` runs while both are live, then
    * `prev` is released. */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: Generation => Option[DataFrame])(
      converged: (Generation, Generation) => Boolean): Result = {
    var cur = new Generation(init.localCheckpoint(), 0)
    var stopped = false
    while (!stopped && cur.round < maxRounds) {
      step(cur) match {
        case None => stopped = true
        case Some(df) =>
          val next = new Generation(df.localCheckpoint(), cur.round + 1)
          stopped = converged(cur, next)
          releaseLocal(cur.df)
          cur = next
      }
    }
    Result(cur, stopped)
  }

  final case class Layer(df: DataFrame, rows: Long)

  /** `layers` run from the seed (hop 0) outward and stay checkpointed;
    * `hitMaxHops` is true when the hop budget cut a live frontier. */
  final case class Frontier(layers: Vector[Layer], hitMaxHops: Boolean)

  /** Multi-source BFS. `expand(frontier, seen)` derives the next layer
    * and must anti-join `seen` on `keys` itself. Each layer is pinned by
    * the previous layer's count ([[pinSmall]]), checkpointed and counted
    * (the empty-frontier probe). Its keys fold into ONE running `seen`
    * frame, re-checkpointed per hop — pinned up to [[PinMaxRows]],
    * coalesced to the shuffle partitions above — so hop d anti-joins one
    * frame: O(D) cumulative scans, not the O(D²) lazy re-union of every
    * earlier layer. Superseded `seen` frames and the terminal empty layer
    * are released here. */
  def frontier(seed: DataFrame, keys: Seq[String], maxHops: Int)(
      expand: (DataFrame, DataFrame) => DataFrame): Frontier = {
    val keyCols = keys.map(col)
    val first = seed.localCheckpoint()
    val seedRows = first.count()
    var seen = pinSmall(first.select(keyCols: _*), seedRows, keys)
      .localCheckpoint()
    var seenRows = seedRows
    var layers = Vector(Layer(first, seedRows))
    var exhausted = false
    while (!exhausted && layers.size <= maxHops) {
      val next = pinSmall(expand(layers.last.df, seen), layers.last.rows,
        keys).localCheckpoint()
      val rows = next.count()
      exhausted = rows == 0
      if (exhausted) releaseLocal(next)
      else {
        layers :+= Layer(next, rows)
        seenRows += rows
        val prev = seen
        val grown = prev.unionByName(next.select(keyCols: _*))
        seen = (if (seenRows <= PinMaxRows) pinSmall(grown, seenRows, keys)
          else grown.coalesce(shufflePartitions(seed.sparkSession)))
          .localCheckpoint()
        releaseLocal(prev)
      }
    }
    releaseLocal(seen)
    Frontier(layers, hitMaxHops = !exhausted)
  }

  /** The session's `spark.sql.shuffle.partitions` — the partition count
    * of every explicit pin and bounded coalesce in the loop operators. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Drop the cached blocks behind a checkpointed generation. Only call
    * it on a generation whose SUCCESSOR is already eagerly checkpointed
    * (the `localCheckpoint()` default) — a released local checkpoint has
    * no lineage to recompute from. */
  def releaseLocal(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Row ceiling for [[pinSmall]] (and for call sites choosing between
    * a pin and the bounded-partition `coalesce` fallback): ~4M rows of
    * a narrow loop frame is low hundreds of MB — above it AQE's
    * byte-based sizing already produces ample partitions and an extra
    * exchange would be a real cost at scale. */
  val PinMaxRows: Long = 4000000L

  /** Pin a loop frame's partition count before it is checkpointed,
    * WHEN it is known to be small (row count from the previous
    * generation — fixpoint loops already track it for their
    * convergence probes).
    *
    * Why: AQE sizes post-shuffle partitions by map-output BYTES
    * (advisory/minPartitionSize), but the loop frames of the fixpoint
    * operators are byte-tiny and FAN OUT on the next round's join
    * (frontier ⋈ high-degree adjacency, star contraction, dependency
    * back-propagation) — a few MB of frame can carry seconds of probe
    * work per row group. A localCheckpoint then BAKES the coalesced
    * 1–2 partition layout into the RDD, and the next round's
    * broadcast-join probe runs on one core (measured: 5.7 s + 4.8 s +
    * 3.0 s single-task stages inside one q_betweenness run,
    * OPTIMIZATION_r14.md). Re-spreading rows by the frame's own keys
    * restores probe parallelism for one extra exchange whose payload
    * is, by the branch condition, at most `maxRows` small rows.
    *
    * Scale-adaptive by construction: above `maxRows` (default 4M —
    * hundreds of MB at typical loop-frame widths, where AQE's
    * byte-based sizing already yields ample partitions) the frame is
    * returned untouched, so a 100 TB run never pays an extra shuffle
    * for this. `prevRows < 0` (unknown) also skips the pin.
    *
    * Sizing caveat (ADVICE r14): `prevRows` is the PREVIOUS
    * generation's count, so one high-fan-out round can briefly pin a
    * frame that grew past `maxRows`, and a shrink round below the
    * ceiling skips one useful pin. Loop frames of the current call
    * sites (frontier/delta/seen tables) change size gradually per hop,
    * so the one-generation lag is at most one mis-sized round; call
    * sites that fan out by orders of magnitude per round should count
    * first and pin retroactively instead. */
  def pinSmall(df: DataFrame, prevRows: Long, keys: Seq[String],
      maxRows: Long = PinMaxRows): DataFrame = {
    val n = shufflePartitions(df.sparkSession)
    if (prevRows >= 0 && prevRows <= maxRows)
      // numPartitions given explicitly => REPARTITION_BY_NUM origin,
      // which AQE never re-coalesces; the checkpoint then preserves
      // HashPartitioning(keys, n) for downstream equi-joins
      df.repartition(n, keys.map(col): _*)
    else df
  }

  /** Broadcast-on-small, the join-side companion to [[pinSmall]]: mark
    * `df` for broadcast when a MEASURED row count proves it small.
    *
    * Why: the iterative operators join their (node/item-sized) state
    * frames against a much larger edge/pair frame every round, but a
    * localCheckpoint'd generation is a LogicalRDD with no catalyst
    * stats, so the planner falls back to a sort-merge join that
    * re-shuffles the BIG side each round (measured on q_hits: the edge
    * table's 7.6 MB shuffle written and read once per half-step,
    * StageProfile r15). The loops already track exact row counts for
    * their convergence probes; a count at or under `maxRows` (node-sized
    * rows — tens of MB hashed at the 4M default) makes the broadcast
    * provably safe, and the big side is then never exchanged at all
    * (guide §3.1). Above the ceiling, or with an unknown count (< 0),
    * the frame is returned untouched and the shuffle plan stands. */
  def broadcastSmall(df: DataFrame, rows: Long,
      maxRows: Long = PinMaxRows): DataFrame =
    if (rows >= 0 && rows <= maxRows)
      org.apache.spark.sql.functions.broadcast(df)
    else df
}
