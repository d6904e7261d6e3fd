package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Damped PageRank by relational power iteration — link-graph centrality
  * for corpus curation (rank web documents by the crawl's own link
  * structure, or rank documents inside a similarity graph built from the
  * near-dup pair operators).
  *
  * The unnormalized "1 unit per node" form: rank(v) starts at 1.0 and
  * each round becomes (1-d) + d * Σ rank(u)/outdeg(u) over in-neighbors
  * u. Dangling mass is NOT redistributed (the leaked-mass variant — a
  * documented, cheaper choice; redistribution would add a one-row
  * aggregate join per round).
  *
  * Engine-exact by construction: every per-edge contribution is IEEE
  * division (correctly rounded, unlike transcendentals) quantized to
  * FLOAT — 24 significand bits, so scaling by 2^48 yields an exactly
  * integral double — and summed as BIGINT fixed-point (the repo's
  * established parity idiom: a raw double cast to DECIMAL ties at the
  * scale digit ~1/30k values, but power-of-two scaling only shifts the
  * exponent). The damping update is one correctly-rounded multiply-add.
  * No libm call and no decimal rounding anywhere, so ranks are
  * bit-reproducible across engines and a DuckDB oracle replays
  * iterations exactly. Capacity notes: the BIGINT sum holds ~32k units
  * of incoming rank mass per node per round (2^63 / 2^48) — far above
  * any damped-rank concentration short of a pathological star over a
  * >30k-mass graph — and the float-scaling integrality argument needs
  * contributions >= 2^-25 (~3e-8): with the (1-d) rank floor that means
  * out-degrees up to ~5M per node; beyond that Spark's truncating long
  * cast and a rounding engine could disagree by one fixed-point unit.
  *
  * Shape at scale: per round, one shuffle join of edges against the
  * rank table on src and one dst-keyed aggregation — the standard
  * join-agg PageRank; the rank/degree table is node-sized, edges are
  * never widened. The rounds run through [[graft.core.Fixpoint]]: each
  * generation is localCheckpoint'd and its predecessor's blocks
  * released, so lineage stays one round deep at any iteration count.
  */
object PageRank {

  /** (node, rank) after `iters` rounds. `edges` are directed (src, dst)
    * pairs; duplicate edge rows act as parallel edges (each contributes).
    * Nodes must be non-null. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    iterate(edges, srcCol, dstCol, iters, damping, tolerance = None)
  }

  /** Convergence-stopped variant: iterate until the L1 rank delta
    * Σ|rank_i - rank_{i-1}| drops below `tolerance`, or `maxIters`
    * rounds, whichever first. Production knob for large graphs — a
    * fixed iteration budget pays the full per-round shuffle even on an
    * already-converged graph, while the stop costs one extra node-sized
    * aggregate (a scalar driver round-trip) per round, only when
    * requested. The fixed-iteration [[run]] path is untouched. */
  def runConverged(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int, tolerance: Double, damping: Double = 0.85): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tolerance > 0.0, s"tolerance must be > 0, got $tolerance")
    iterate(edges, srcCol, dstCol, maxIters, damping, Some(tolerance))
  }

  /** Personalized PageRank (random walk with restart): the restart
    * mass (1−d) returns to the SEED SET instead of spreading uniformly
    * — "what is close to these nodes", the seeded-relevance primitive
    * behind related-item expansion and seeded corpus discovery. Ranks
    * init to 1 on seeds / 0 elsewhere and each round applies
    * rank' = (1−d)·1[seed] + d·Σ contribs with the same 2^48
    * fixed-point contribution quantization as [[run]] — so the SQL
    * oracle replays rounds bit-for-bit. Scores are proportional to
    * the restart-walk visit distribution over |S| seeds (unnormalized,
    * like [[run]]'s convention). */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], iters: Int, damping: Double = 0.85)
      : DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(seeds.nonEmpty, "personalized PageRank needs >= 1 seed")
    iterate(edges, srcCol, dstCol, iters, damping, tolerance = None,
      seeds = Some(seeds))
  }

  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double, tolerance: Option[Double],
      seeds: Option[Seq[String]] = None): DataFrame = {
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    // the edge table is read every round (plus nodes/deg below) — pin it
    // once so the caller's derivation (joins, distinct, unions…) is not
    // re-executed per iteration (ConnectedComponents' precedent)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // rank table carries outdeg (NULL for dangling nodes) so the
    // per-round contribution join needs no third table
    val init = seeds match {
      case None => lit(1.0)
      case Some(s) =>
        when(col("node").isin(s: _*), lit(1.0)).otherwise(lit(0.0))
    }
    val rank = nodes
      .join(deg, nodes("node") === deg("src"), "left")
      .select(col("node"), init.as("rank"), col("outdeg"))
    Fixpoint.iterate(rank, iters)(g => Some(step(e, g.df, damping, seeds))) {
      (prev, next) =>
        // the L1 delta reads two ALREADY-CHECKPOINTED node-sized tables —
        // no recomputation, one co-partitioned join + scalar aggregate
        tolerance.exists { tol =>
          val p = prev.df.select(col("node").as("__pn"),
            col("rank").as("__prev"))
          next.df.join(p, col("node") === col("__pn"))
            .agg(sum(abs(col("rank") - col("__prev"))).as("l1"))
            .head().getDouble(0) < tol
        }
    }.last.df.select(col("node"), col("rank"))
  }

  /** 2^48 — the fixed-point scale shared with the SQL oracle. */
  private[graft] val FpScale: Double = 281474976710656.0

  /** One power-iteration round over the (node, rank, outdeg) table.
    * With `seeds`, the restart term (1−d) lands only on the seed set
    * (personalized walk); otherwise uniformly (classic PageRank). */
  private def step(e: DataFrame, rank: DataFrame, damping: Double,
      seeds: Option[Seq[String]] = None): DataFrame = {
    val contribs = e
      .join(rank, e("src") === rank("node"))
      .select(col("dst"),
        ((col("rank") / col("outdeg").cast("double"))
          .cast("float").cast("double") * lit(FpScale))
          .cast("long").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    val restart = seeds match {
      case None => lit(1.0 - damping)
      case Some(s) => when(col("node").isin(s: _*),
        lit(1.0 - damping)).otherwise(lit(0.0))
    }
    rank.join(contribs, rank("node") === contribs("dst"), "left")
      .select(col("node"),
        (restart + lit(damping) *
          (coalesce(col("s"), lit(0L)).cast("double") / lit(FpScale)))
          .as("rank"),
        col("outdeg"))
  }
}
