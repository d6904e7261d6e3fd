package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Single-source BFS shortest paths (unweighted hop distance) — the
  * reachability/centrality primitive behind "how far is every entity
  * from this root" questions (account-takeover blast radius, referral
  * depth, supplier-network distance).
  *
  * Frontier iteration, one round per hop: the current frontier joins the
  * edge table, discovered-before nodes are anti-joined away, and the
  * remainder becomes the next frontier. Per round that is ONE edge-keyed
  * shuffle join + one anti join against the (node-sized, not edge-sized)
  * distance table — never a path enumeration, so dense graphs cost
  * O(edges × diameter), not O(paths). Each generation is eagerly
  * localCheckpoint'd and its predecessor released
  * ([[graft.core.Fixpoint]]); the driver's only per-round action is
  * the frontier-empty probe (`isEmpty` on a node-sized frame), the same
  * fixpoint pattern as [[PageRank]] / ConnectedComponents.
  *
  * Distances are exact integers — bit-portable by construction. The
  * DuckDB oracle BFSes the same graph with a recursive UNION CTE (dedup
  * on (node, dist) keeps it polynomial) and min-aggregates — an
  * independent algorithm.
  */
object ShortestPaths {

  /** (node, dist) for every node reachable from `source` within
    * `maxHops` — unreachable nodes are absent, the source itself is
    * dist 0. */
  def fromSource(edges: DataFrame, srcCol: String, dstCol: String,
      source: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    // materialize the edge projection ONCE: without this, an edge table
    // derived from upstream joins (the common case) re-executes its
    // whole lineage on every frontier round — measured 4x the operator's
    // cost on the bipartite bench graph. (A src-hash pre-partition was
    // tried and reverted: checkpoint loses the partitioning for join
    // reuse, so it only added a shuffle; per-round the edge side rides
    // AQE like any other join.)
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .localCheckpoint()
    // one checkpointed frame PER HOP, unioned lazily: the accumulated
    // distance table is never re-materialized each round (that rewrite
    // cost O(rounds × nodes) and dominated the frontier work itself)
    val seed = Seq((source, 0L)).toDF("node", "dist").localCheckpoint()
    // ONE running `seen` frame, re-checkpointed per hop (coalesced so
    // its partition count stays bounded instead of growing by one
    // union leg per hop): round d anti-joins ONE frame, so a
    // diameter-D graph costs O(D) cumulative frame scans — the lazy
    // union of all prior layers it replaces rescanned every earlier
    // layer each round, O(D²) on deep (chain/road-network) graphs.
    // The superseded generation's blocks release immediately.
    val nPart = Fixpoint.shufflePartitions(spark)
    // Hand-rolled, not Fixpoint.frontier: that driver pins small frames.
    // (pin-on-small was tried here and REVERTED: the single-source
    // loop's frames have no fan-out-probe consumer — the backward-
    // phase/broadcast-probe shape that makes the pin pay in
    // fromSources/Betweenness — so its extra per-hop exchange read as
    // a consistent ~1–2 s regression on q_bfs; OPTIMIZATION_r14.md)
    var seen = seed.select("node").localCheckpoint()
    var frames = List(seed)
    var frontier = seed
    var hop = 0
    var done = maxHops == 0
    while (!done) {
      // aggregate BEFORE the anti join (guide §2.3): the expansion fans
      // out by in-degree, so grouping first dedupes map-side (partial
      // agg) and the anti join then filters one row per (node) instead
      // of one per predecessor — identical output, the anti join drops
      // whole key groups either way
      val next = frontier.join(e, col("node") === col("__src"))
        .select(col("__dst").as("node"), (col("dist") + 1L).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .join(seen, Seq("node"), "left_anti")
        .localCheckpoint() // eager — each hop's frame materializes once
      hop += 1
      val exhausted = next.isEmpty
      if (!exhausted) {
        frames = next :: frames
        frontier = next
        val prev = seen
        seen = prev.unionByName(next.select("node"))
          .coalesce(nPart).localCheckpoint()
        Fixpoint.releaseLocal(prev)
      } else {
        // the terminal empty generation is still a checkpointed RDD —
        // release it too (the release-eagerly discipline)
        Fixpoint.releaseLocal(next)
      }
      done = exhausted || hop >= maxHops
    }
    val out = frames.reduce(_ unionByName _)
    Fixpoint.releaseLocal(e)
    Fixpoint.releaseLocal(seen)
    out
  }

  /** Multi-source BFS: (seed, node, dist) for every node reachable from
    * any source within `maxHops` — the landmark-distance primitive
    * behind sampled closeness centrality and reachability audits. Same
    * frontier loop as [[fromSource]] with a composite (seed, node)
    * state, so k landmarks cost ONE loop of k-wide frontiers, not k
    * sequential BFS runs: per round one edge-keyed join + one anti-join
    * against the (k·nodes)-bounded distance table. */
  def fromSources(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0, got $maxHops")
    // src-hash pre-partition + PERSIST (not checkpoint — checkpointing
    // erases the partitioning, the fromSource lesson): every round's
    // frontier join then reuses the edge table's HashPartitioning and
    // only the (small) frontier side shuffles — k rounds cost ONE edge
    // shuffle instead of k (measured below on the 10x sweep).
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = sources
      .select(col(sourceCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
    val bfs = Fixpoint.frontier(seed, Seq("seed", "node"), maxHops) {
      (frontier, seen) =>
        // agg before anti (see fromSource): dedupe the in-degree fan-out
        // map-side before anything shuffles; the anti join filters whole
        // (seed, node) groups, so the order swap cannot change the
        // result. Pinned `seen` => no seen-side shuffle in the anti join.
        frontier.join(e, col("node") === col("__src"))
          .select(col("seed"), col("__dst").as("node"),
            (col("dist") + 1L).as("dist"))
          .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
          .join(seen, Seq("seed", "node"), "left_anti")
    }
    // every layer is already an eager checkpoint — the union never
    // re-reads e, so the cache can drop immediately
    e.unpersist(blocking = false)
    bfs.layers.reverseIterator.map(_.df).reduce(_ unionByName _)
  }

  /** Landmark harmonic closeness (Boldi & Vigna 2014's centrality
    * axioms favor the harmonic form: unreachable pairs contribute 0
    * instead of poisoning the mean): for each node, Σ 1/d(s, node)
    * over the landmark set — the k-seed approximation of closeness
    * whose exact form needs all-pairs distances. Reciprocals quantize
    * through the EXACT integral division (10¹² div d), so the per-node
    * sum is an exact integer and the readout engine-portable; the
    * closing division is one double op (contract: k·10¹² < 2⁵³, i.e.
    * k ≤ ~9000 landmarks).
    *
    * Output: node, n_landmarks (reaching it, self excluded), h_micro
    * (exact), harmonic. */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      landmarks: DataFrame, landmarkCol: String, maxHops: Int)
      : DataFrame = {
    val d = fromSources(edges, srcCol, dstCol, landmarks, landmarkCol,
        maxHops)
      .filter(col("dist") > 0)
    val recip =
      ((lit(1000000000000L) - lit(1000000000000L) % col("dist")) /
        col("dist")).cast("long")
    d.groupBy(col("node")).agg(
        count(lit(1)).as("n_landmarks"),
        sum(recip).as("h_micro"))
      .select(col("node"), col("n_landmarks"), col("h_micro"),
        (col("h_micro").cast("double") / lit(1.0e12)).as("harmonic"))
  }
}
