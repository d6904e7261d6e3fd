package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Hierarchy resolution — root and depth per node of a parent-pointer
  * forest (org charts, category trees, reply threads). SQL engines do
  * this with a recursive CTE; Spark has none, and the naive loop (join
  * once per LEVEL) is O(depth) shuffles. This is the pointer-doubling
  * form: each round composes the state with ITSELF (`anc(node) ←
  * anc(anc(node))`, distances adding), so the resolved distance doubles
  * per round and a depth-D forest settles in ⌈log₂ D⌉ self-joins — the
  * difference between 40 shuffles and 6 on a 1e12-edge web-graph-scale
  * hierarchy. Root rows self-loop with distance 0, so composition is a
  * fixpoint once every pointer reaches a root (no overshoot).
  *
  * Each round localCheckpoints the state and releases its predecessor
  * ([[graft.core.Fixpoint]]): the plan would otherwise double per round
  * and the lineage itself would become the bottleneck.
  *
  * Cycles: a cycle never reaches a root, so `maxRounds` bounds the loop;
  * leftover unresolved nodes surface with `root = null` rather than
  * hanging — the caller decides whether that is data corruption.
  */
object Hierarchy {

  /** Input: one row per node, `parentCol` null for roots (every non-null
    * parent must itself appear as a node). Output: (node, root, depth) —
    * root/depth null for nodes that failed to resolve in `maxRounds`
    * (cycles). */
  def resolveRoots(edges: DataFrame, nodeCol: String, parentCol: String,
      maxRounds: Int = 40): DataFrame = {
    val roots = edges.filter(col(parentCol).isNull)
      .select(col(nodeCol).as("__r")).distinct()
    def unresolved(state: DataFrame): Long =
      state.join(roots, state("anc") === roots("__r"), "left_anti").count()
    val state = Fixpoint.iterate(
        edges.select(col(nodeCol).as("node"),
          coalesce(col(parentCol), col(nodeCol)).as("anc"),
          when(col(parentCol).isNull, 0L).otherwise(1L).as("depth")),
        maxRounds) { g =>
      if (unresolved(g.df) == 0) None
      else {
        val hop = g.df.select(col("node").as("__hn"), col("anc").as("__ha"),
          col("depth").as("__hd"))
        Some(g.df.join(hop, g.df("anc") === hop("__hn"))
          .select(col("node"), col("__ha").as("anc"),
            (col("depth") + col("__hd")).as("depth")))
      }
    }((_, _) => false).last.df
    state.join(roots, state("anc") === roots("__r"), "left")
      .select(col("node"),
        when(col("__r").isNotNull, col("anc")).as("root"),
        when(col("__r").isNotNull, col("depth")).as("depth"))
  }
}
