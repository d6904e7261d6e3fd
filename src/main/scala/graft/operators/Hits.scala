package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) by relational power
  * iteration — the directional companion to [[PageRank]]: on a directed
  * graph, a good HUB points at good authorities and a good AUTHORITY is
  * pointed at by good hubs. The curation read: on a crawl link graph,
  * authorities are the canonical sources worth keeping, hubs the index
  * pages worth crawling from; on a bipartite buyer→seller graph the two
  * scores rank the sides separately (one PageRank over the
  * symmetrized graph cannot).
  *
  * Per round: auth(v) = Σ_{u→v} hub(u), then max-normalize; hub(u) =
  * Σ_{u→v} auth(v), then max-normalize. MAX-normalization (not the
  * textbook L2) is deliberate: max() is an order-INDEPENDENT reduction
  * and needs no sqrt, so the whole iteration stays inside the repo's
  * engine-exact contract — each per-edge contribution is float-
  * quantized to 2^48 fixed-point and summed as DECIMAL(38,0) (the
  * PageRank parity idiom widened: unnormalized hub ≡ 1 totals grow
  * with in-degree, so BIGINT's ~32k-contribution headroom is not
  * enough on crawl-scale graphs; decimal holds ~3.5e23 per node,
  * matching the oracle's HUGEINT), every division is one
  * correctly-rounded IEEE op, and the
  * scores hash-compare across engines. Max-normalized HITS converges
  * to the same principal eigenvectors up to scale.
  *
  * Shape at scale: per round, two edge⋈score joins + two dst/src-keyed
  * fixed-point aggregations (edges never widened, score tables are
  * node-sized) and two one-row max aggregates joined back via explicit
  * broadcast — the scalar never shuffles the score table. Zero-in-
  * degree nodes get auth 0 (and symmetrically for hubs), as the
  * definition demands.
  */
object Hits {

  /** (node, hub, auth) after `iters` rounds from hub ≡ 1. Edges are
    * directed (src, dst); duplicate rows act as parallel edges. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // pin the edge derivation once, and each half-generation as it is
    // produced: every score table is referenced at least twice (the
    // scalar max, the next half-step, the final join), so the lazy form
    // re-executes subtree copies that MULTIPLY per round (measured:
    // 23.9 s -> 4.3 s at sf0.1 for 2 rounds). localCheckpoint is the
    // safe pin here — the only joins downstream of a checkpointed
    // generation are the node-sized score joins and the explicitly
    // broadcast scalar max, none of which need catalyst stats (the
    // NOTES iterative-loop rule; PageRank precedent).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
      .localCheckpoint()
    // one count over the checkpointed blocks: every score table of this
    // run is exactly node-sized, so this single measurement licenses
    // broadcast-on-small for ALL the per-round score joins (see
    // halfStep) — a checkpointed generation has no catalyst stats, and
    // the static fallback was a sort-merge join that re-shuffled the
    // edge table once per half-step (7.6 MB written + read ×4,
    // StageProfile r15; guide §3.1/§2.4)
    val nNodes = hub.count()
    var auth: DataFrame = null
    var i = 0
    // hand-rolled: two interleaved generations (hub, auth) per round
    while (i < iters) {
      val nextAuth = halfStep(e, hub, "src", "dst", "hub", "auth", nNodes)
        .localCheckpoint()
      if (auth != null) graft.core.Fixpoint.releaseLocal(auth)
      auth = nextAuth
      val nextHub = halfStep(e, auth, "dst", "src", "auth", "hub", nNodes)
        .localCheckpoint()
      graft.core.Fixpoint.releaseLocal(hub)
      hub = nextHub
      i += 1
    }
    hub.join(graft.core.Fixpoint.broadcastSmall(auth, nNodes),
        Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** One half-iteration: out(to) = maxnorm(Σ fq(in(from)) over edges
    * from→to), as a (node, outName) table over ALL nodes. `nNodes` is
    * the measured node count — `in` and the per-node contribution table
    * are both exactly node-sized, so it gates their broadcast. */
  private def halfStep(e: DataFrame, in: DataFrame, fromCol: String,
      toCol: String, inName: String, outName: String,
      nNodes: Long): DataFrame = {
    import graft.core.Fixpoint.broadcastSmall
    val fp = PageRank.FpScale
    // per-node totals sum as DECIMAL(38,0), not BIGINT: with hub ≡ 1 the
    // round-1 auth total is in_degree·2^48 (unnormalized — PageRank's
    // damped-mass ~32k-unit capacity argument does NOT apply), so a node
    // with in-degree > ~32k would silently wrap a long. DECIMAL(38,0)
    // holds ~3.5e23 contributions per node and is what the oracle's
    // sum(BIGINT) already does (DuckDB widens to HUGEINT).
    // broadcast-on-small both node-sized sides: the edge frame then
    // never exchanges — the contribution pass is one scan of e's
    // checkpoint blocks probing a broadcast hash table, and the
    // realignment left join builds on the (node-sized) aggregate.
    // Decimal sums are order-independent, so the join-strategy change
    // cannot move a bit.
    val contribs = e
      .join(broadcastSmall(in, nNodes), e(fromCol) === in("node"))
      .select(e(toCol).as("__to"),
        (col(inName).cast("float").cast("double") * lit(fp))
          .cast("long").cast("decimal(38,0)").as("__c"))
      .groupBy(col("__to")).agg(sum(col("__c")).as("__s"))
    val raw = in.select(col("node"))
      .join(broadcastSmall(contribs, nNodes),
        in("node") === contribs("__to"), "left")
      .select(col("node"),
        (coalesce(col("__s"), lit(java.math.BigDecimal.ZERO)
          .cast("decimal(38,0)")).cast("double") / lit(fp))
          .as("__raw"))
    val mx = raw.agg(max(col("__raw")).as("__mx"))
    raw.crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("__mx") > 0.0, col("__raw") / col("__mx"))
          .otherwise(lit(0.0)).as(outName))
  }
}
