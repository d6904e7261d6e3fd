package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint
import graft.core.Fixpoint.broadcastSmall

/** Bradley–Terry pairwise-preference strengths (Bradley & Terry 1952,
  * MM iteration per Hunter 2004): from (winner, loser) comparison rows,
  * the per-item strength θ under P(i beats j) = θ_i/(θ_i+θ_j) — the
  * model behind preference-data curation (RLHF comparison QA: which
  * responses/annotators/sources actually win head-to-heads, with
  * intransitivity smoothed out) and leaderboard-style ranking from
  * sparse pairwise data. No reference counterpart (fastETL has no
  * model fitting); definitions follow the public literature.
  *
  * FIXED-ITERATION MM, engine-exact by the HITS/PSI idiom pair: each
  * round is θ'_i = W_i / Σ_{j≠i} n_ij/(θ_i+θ_j), max-normalized.
  * Every libm-free division is one correctly-rounded IEEE op; each
  * per-pair term n_ij/(θ_i+θ_j) is ROUNDED THROUGH DECIMAL(20,12)
  * (the PSI waypoint) so the per-item sum is an order-independent
  * decimal aggregate; θ' and the max-normalized θ are waypointed the
  * same way before feeding the next round. A SQL oracle replays the
  * whole fit as unrolled CTEs (the q_hits precedent) bit-for-bit.
  *
  * Shape at scale: the comparison table collapses ONCE to symmetric
  * (i, j, n_ij) pair aggregates + a node-sized win table; per round,
  * two node-table joins onto the pair aggregate (θ_i, θ_j), one
  * pair-keyed decimal aggregation, and a broadcast one-row max — the
  * HITS cost profile; pairs never widen. Items with zero wins get
  * θ = 0 after round 1 (their true MLE limit); items appearing only
  * as winners keep growing toward the normalized ceiling — fixed
  * iterations make that a deterministic readout, not a divergence.
  *
  * Output: (item, wins, games, theta) — theta in (0, 1], max 1. */
object BradleyTerry {

  private def wp(c: org.apache.spark.sql.Column) =
    c.cast("decimal(20,12)")

  def fit(comparisons: DataFrame, winnerCol: String, loserCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // comparison projection checkpointed ONCE: `games` and `wins` both
    // aggregate it, and each used to re-execute the (often expensive)
    // upstream derivation — the bench's lineitem self-join ran twice,
    // once under the pairs checkpoint and once under totals (two ~9.5 MB
    // map passes, StageProfile r15). One materialization, both
    // aggregates read the blocks; released as soon as both are pinned.
    val raw = comparisons.select(col(winnerCol).as("__w"),
      col(loserCol).as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
      .localCheckpoint()
    // symmetric per-pair game counts (both orientations — each round's
    // sum over opponents is then ONE groupBy on the i side), node-sized
    // win/game totals; all integer aggregates, pinned once.
    val games = raw
      .select(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("n"))
    val pairs = games.select(col("__a").as("i"), col("__b").as("j"), col("n"))
      .unionByName(games.select(col("__b").as("i"), col("__a").as("j"),
        col("n")))
      .localCheckpoint()
    val wins = raw.groupBy(col("__w").as("item"))
      .agg(count(lit(1)).as("wins"))
    val totals = pairs.groupBy(col("i").as("item"))
      .agg(sum(col("n")).as("games"))
      .join(wins, Seq("item"), "left")
      .na.fill(0L, Seq("wins"))
      .localCheckpoint()
    Fixpoint.releaseLocal(raw) // pairs + totals are pinned
    // item count, measured once off the pinned totals: every theta
    // generation is exactly item-sized, so this licenses
    // broadcast-on-small for the per-round θ joins below — without it
    // the checkpointed (stats-less) theta forced sort-merge joins that
    // re-shuffled the pair table every round (10.4 MB written + read per
    // round, StageProfile r15; guide §3.1/§2.4)
    val nItems = totals.count()
    val theta = Fixpoint.iterate(
        totals.select(col("item"), lit(1.0).as("theta")), iters) { g =>
      val ti = g.df.select(col("item").as("i"), col("theta").as("__ti"))
      val tj = g.df.select(col("item").as("j"), col("theta").as("__tj"))
      val denom = pairs
        .join(broadcastSmall(ti, nItems), Seq("i"))
        .join(broadcastSmall(tj, nItems), Seq("j"))
        .select(col("i"),
          // gate θ_i+θ_j = 0 (two zero-win items with shared games):
          // the pair contributes nothing — no engine-divergent inf/NaN
          when(col("__ti") + col("__tj") > 0,
            wp(col("n").cast("double") / (col("__ti") + col("__tj"))))
            .as("__term"))
        .groupBy(col("i")).agg(sum(col("__term")).as("__den"))
      val rawTheta = totals
        .join(broadcastSmall(denom, nItems),
          totals("item") === denom("i"), "left")
        .select(col("item"),
          wp(when(coalesce(col("__den"), wp(lit(0))) > 0,
            col("wins").cast("double") / col("__den").cast("double"))
            .otherwise(lit(0.0))).as("__t"))
      val mx = rawTheta.agg(max(col("__t")).as("__mx"))
      Some(rawTheta.crossJoin(broadcast(mx))
        .select(col("item"),
          when(col("__mx") > 0,
            wp(col("__t").cast("double") / col("__mx").cast("double"))
              .cast("double"))
            .otherwise(lit(0.0)).as("theta")))
    }((_, _) => false).last.df
    totals.join(broadcastSmall(theta, nItems), Seq("item"))
      .select(col("item"), col("wins"), col("games"), col("theta"))
  }
}
