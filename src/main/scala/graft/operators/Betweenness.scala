package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Fixpoint
import graft.core.Fixpoint.pinSmall

/** Landmark-sampled betweenness centrality (Brandes 2001, the
  * k-source sample of Brandes & Pich 2007) — "which nodes do shortest
  * paths FLOW THROUGH?", the broker readout that closeness (volume of
  * reach) and degree (local volume) both miss. Exact betweenness needs
  * all-pairs BFS; the standard scale form runs Brandes' two-phase
  * accumulation from k landmark seeds and reports the sampled sum.
  *
  * Phase 1 (forward): the [[ShortestPaths.fromSources]] frontier loop
  * widened with path COUNTS — σ(s,v) accumulates as an exact
  * DECIMAL(38,0) sum of predecessor σ along each BFS layer, one
  * edge-keyed join + (seed, node) aggregate per hop, each layer
  * checkpointed by [[graft.core.Fixpoint.frontier]].
  *
  * Phase 2 (backward): dependency δ walks the layers deepest-first:
  * δ(u) = Σ_{v ∈ succ(u)} (σu/σv)·(1 + δv). Each per-edge
  * contribution quantizes via floor(σu/σv · (1e6 + δv_micro)) — a
  * fixed-shape double over exact inputs (σ through the 2^53 hi/lo
  * split) — so every reduction is an exact integer sum and the whole
  * accumulation is engine-portable; the backward loop runs depth-many
  * bounded joins on node-sized layer frames.
  *
  * bc(v) = Σ_seeds δ_s(v) over non-seed depths — the RAW sampled sum
  * (callers normalize by k or (k·(n−1)(n−2)) as their convention
  * demands). Contract: δ_micro stays below 2^63 while
  * nodes·1e6 < 2^63 — document-scale safe to ~9e12 nodes; the long
  * cast of the accumulated sum is GUARDED (raise_error past 2^62, a
  * full bit of headroom before the wrap), never silent.
  *
  * Horizon-truncation bias: when `maxHops` cuts the BFS before the
  * true eccentricity, the deepest retained layer seeds δ = 0 — paths
  * that continue past the horizon contribute nothing, so bc is biased
  * LOW for nodes whose shortest-path trees extend near/past maxHops.
  * Size maxHops to the graph's effective diameter (social graphs
  * saturate by ~6; chains need maxHops ≈ length). */
object Betweenness {

  private def i38(c: Column) = c.cast("decimal(38,0)")
  private def dv(c: Column) = LinearModel.intMomentToDouble(c, 1.0)

  /** (node, bc_micro, bc, hit_max_hops) for every node with positive
    * sampled dependency; seeds' own-source dependency excluded per
    * Brandes. `hit_max_hops` (constant per run) is true when the hop
    * budget cut a live frontier — the caller-visible form of the
    * horizon-truncation bias above. */
  def sampled(edges: DataFrame, srcCol: String, dstCol: String,
      landmarks: DataFrame, landmarkCol: String, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1, got $maxHops")
    // src-hash pre-partition + persist (the fromSources treatment):
    // forward AND backward phases join e once per layer — with the
    // HashPartitioning retained, only the node-sized layer side
    // shuffles each round
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = landmarks
      .select(col(landmarkCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"),
        lit(1L).cast("decimal(38,0)").as("sigma"))
    // forward: one checkpointed frame per BFS layer carrying exact path
    // counts, each pinned by the driver's layer counts (Fixpoint.pinSmall:
    // unpinned, the backward phase's broadcast probes ran single-task,
    // 5.7 s a stage in plans/r14/q_betweenness_before)
    val fwd = Fixpoint.frontier(seed, Seq("seed", "node"), maxHops) {
      (frontier, seen) =>
        // σ-sum BEFORE the anti join (guide §2.3 — aggregate, then
        // shuffle less): partial map-side sums compress the per-
        // predecessor fan-out, and the anti join removes whole
        // (seed, node) groups, so summing first is exactly equivalent.
        // `seen` is pinned on (seed, node): the anti join re-shuffles
        // NOTHING on the seen side.
        frontier.join(e, col("node") === col("__src"))
          .select(col("seed"), col("__dst").as("node"), col("sigma"))
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(seen, Seq("seed", "node"), "left_anti")
    }
    val layers = fwd.layers.map(_.df)
    val layerRows = fwd.layers.map(_.rows)
    // saturation indicator: the loop stopped at the hop budget with a
    // live frontier — deeper layers exist that seeded no dependency, so
    // bc is biased LOW (the scaladoc horizon-truncation caveat, now a
    // readable output instead of prose). false = the frontier exhausted
    // itself inside the budget and the sampled accumulation is complete.
    val hitMaxHops = fwd.hitMaxHops
    // backward: delta in exact micro units, deepest layer first. Every
    // delta frame is pinned by its (known) layer count before the
    // checkpoint: the contrib join below probes TWO broadcast hash
    // tables per row (e's adjacency fan-out, then succ) from this
    // frame's scan, so its partition count IS the phase's parallelism
    val depth = layers.size - 1
    var deltas = Vector.fill[DataFrame](layers.size)(null)
    deltas = deltas.updated(depth,
      pinSmall(layers(depth)
          .withColumn("delta", lit(0L).cast("decimal(38,0)")),
        layerRows(depth), Seq("seed", "node"))
        .localCheckpoint())
    for (d <- (depth - 1) to 0 by -1) {
      val succ = deltas(d + 1).select(col("seed").as("__s2"),
        col("node").as("__v"), col("sigma").as("__sv"),
        col("delta").as("__dv"))
      val contrib = layers(d)
        .join(e, col("node") === col("__src"))
        .join(succ, col("seed") === col("__s2") &&
          col("__dst") === col("__v"))
        // floor(σu/σv · (1e6 + δv)): fixed-shape double on split-exact
        // inputs, floored back to integral micro units
        .select(col("seed"), col("node"),
          floor((dv(col("sigma")) / dv(col("__sv"))) *
            (lit(1.0e6) + dv(col("__dv")))).as("__c"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(i38(col("__c"))).as("__dsum"))
      val withDelta = pinSmall(layers(d)
          .join(contrib, Seq("seed", "node"), "left")
          .select(col("seed"), col("node"), col("sigma"),
            coalesce(col("__dsum"), lit(0L).cast("decimal(38,0)"))
              .as("delta")),
        layerRows(d), Seq("seed", "node"))
        .localCheckpoint()
      deltas = deltas.updated(d, withDelta)
    }
    // bc = Σ_seeds δ over non-seed layers (depth >= 1)
    val acc = (1 to depth).map(d => deltas(d).select(
      col("node"), col("delta")))
    val out =
      if (acc.isEmpty)
        layers(0).select(col("node"),
          lit(0L).cast("decimal(38,0)").as("delta")).limit(0)
      else acc.reduce(_ unionByName _)
    // every delta frame is an eager checkpoint: nothing downstream
    // re-reads e, deltas(0) or a forward layer — except the seed layer
    // on the depth == 0 path, which `out` reads
    e.unpersist(blocking = false)
    Fixpoint.releaseLocal(deltas(0))
    (if (depth == 0) layers.tail else layers).foreach(Fixpoint.releaseLocal)
    // 2^62 guard: a DECIMAL sum past long range would otherwise WRAP in
    // the cast (non-ANSI) — fail loudly, the contract is in the scaladoc
    val safeMax = lit("4611686018427387904").cast("decimal(38,0)")
    out.groupBy(col("node"))
      .agg(sum(col("delta")).as("__bcm"))
      .filter(col("__bcm") > 0)
      .select(col("node"),
        when(col("__bcm") > safeMax, raise_error(concat(
            lit("betweenness bc_micro exceeds 2^62: "),
            col("__bcm").cast("string"))))
          .otherwise(col("__bcm").cast("long")).as("bc_micro"),
        (dv(col("__bcm")) / lit(1.0e6)).as("bc"),
        lit(hitMaxHops).as("hit_max_hops"))
  }
}
