package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007), made DETERMINISTIC: every node starts
  * labelled with itself, and each round every node simultaneously
  * adopts the label that is most frequent among its in-neighbours,
  * breaking frequency ties by SMALLEST label. Synchronous update +
  * total tie order means the result is a pure function of (edges,
  * rounds) — no run-to-run drift, which is what lets a DuckDB oracle
  * replay it and what a reproducible curation pipeline needs (the
  * async variant converges faster but is schedule-dependent).
  *
  * One round is: edges ⋈ labels on dst (shuffle keyed on node), a
  * (src, label) count, and a per-src argmax folded into ONE aggregate —
  * `min(struct(-count, label))` — so a round is two keyed exchanges and
  * zero windows. Nodes with no in-edges keep their label via a final
  * left join. The frame is localCheckpoint'd per round
  * ([[graft.core.Fixpoint]]) so the plan doesn't grow with rounds. At
  * 100 TB: labels and edges both hash-partition on node; rounds reuse
  * that partitioning.
  *
  * Callers wanting undirected semantics pass both orientations.
  */
object LabelProp {

  /** One synchronous round: per node, the most-frequent in-neighbour
    * label, smallest-label tie-break; nodes without in-edges keep
    * their current label. Exposed for plan pinning. `nNodes` (the
    * measured node count, < 0 for unknown) gates broadcast-on-small
    * for both node-sized join sides — a checkpointed label generation
    * has no catalyst stats, so the static fallback is a sort-merge
    * join that exchanges the EDGE side every round (guide §3.1). */
  private[operators] def round(edges: DataFrame, labels: DataFrame,
      nNodes: Long = -1L): DataFrame = {
    import Fixpoint.broadcastSmall
    val upd = edges
      .join(broadcastSmall(labels.withColumnRenamed("node", "dst"), nNodes),
        Seq("dst"))
      .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("src"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
        .as("best"))
      .select(col("src").as("node"), col("best.l").as("new_label"))
    labels.join(broadcastSmall(upd, nNodes), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Run `rounds` synchronous rounds over a directed edge frame.
    * Output: (node, label) for every node appearing as src or dst. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // every round joins the edge frame: persist it ONCE or the upstream
    // derivation (often a join+distinct) recomputes per round. persist,
    // NOT localCheckpoint: a checkpointed LogicalRDD loses catalyst
    // stats and downstream joins stop broadcasting (measured on the
    // kcore harness: exponent 0.72 -> 1.22 under a checkpoint).
    // Measured trade at sf0.1/10x: the cache costs ~2x at toy scale
    // (materialization jobs dominate 3 cheap rounds) but cuts the 10x
    // run 20.6 -> 14.5 s — the recompute multiplier is what matters at
    // corpus scale (the q_triangles precedent).
    // dst-keyed REPARTITION_BY_NUM before the persist: the upstream
    // derivation's AQE-coalesced tail left the cache in 1–3 partitions,
    // so every round's edge-side work ran near-serial (2.5 s + 2.0 s +
    // 1.2 s single-task map stages, StageProfile r15). Pinning by the
    // round join's key restores scan parallelism AND, when the label
    // side is too big to broadcast, lets the per-round sort-merge join
    // reuse the cached partitioning instead of re-exchanging the edge
    // frame (the ShortestPaths.fromSources treatment, guide §2.4).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(Fixpoint.shufflePartitions(edges.sparkSession),
        col("dst"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // one count over the checkpointed init: every label generation is
    // exactly node-sized, so this single measurement licenses the
    // broadcast-on-small round joins (Fixpoint.broadcastSmall)
    var nNodes = -1L
    val labels = Fixpoint.iterate(
        nodes.select(col("node"), col("node").as("label")), rounds) { g =>
      if (g.round == 0) nNodes = g.rows
      Some(round(e, g.df, nNodes))
    }((_, _) => false).last.df
    e.unpersist(blocking = false)
    labels
  }
}
