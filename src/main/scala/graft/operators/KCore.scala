package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction (Seidman 1983): the maximal subgraph in which
  * every node keeps degree >= k — the standard "dense nucleus" filter
  * graph pipelines run before expensive per-node work (community
  * detection, embedding training, fraud-ring triage), and the degree
  * floor that bounds [[Triangles]]-style wedge fan-out when applied
  * first.
  *
  * Simultaneous peeling with INCREMENTAL degree maintenance: the full
  * degree aggregate runs once; each round then reads its removal set
  * off the node-sized degree table (no edge scan to probe), updates
  * degrees by the decrement counts of edges incident to the removed
  * nodes (ONE read-only scan of the edge frame, node-sized shuffles),
  * and re-materializes the shrunk edge frame only every few rounds.
  * The naive form — re-aggregate degrees and re-checkpoint the frame
  * every round — was measured super-linear at the 100x sweep
  * (exponent 0.893: R sorts + R materializations of an edge-sized
  * frame); this shape pays the big-frame write R/CompactEvery times
  * and never sorts it. Round count is bounded by the peeling depth
  * (5 on the sf0.01 co-order graph at k=80; O(n) pathological chains
  * are cut by `maxIter`).
  *
  * Outputs are exact integers — bit-portable by construction. The
  * q_kcore oracle replays the identical simultaneous-peel rounds as an
  * unrolled CTE chain in DuckDB; KCoreSpec pins the fixpoint against a
  * brute-force reference peeler on adversarial shapes (chains that peel
  * one layer per round, cliques that never peel).
  */
object KCore {

  /** Nodes of the k-core with their in-core degrees: (node, degree),
    * degree counted over the surviving subgraph. `edges` is an
    * undirected edge list, each pair in either orientation; self-loops
    * and duplicate pairs are dropped before peeling so they can't
    * inflate a degree past the floor. */
  /** Under-floor nodes of a CANONICAL (u < v, one row per edge) frame:
    * both endpoints explode into one map-side-combined degree
    * aggregate, output node-sized. Half the scan of the former
    * both-orientations frame for the same partial-agg shuffle. */
  private[operators] def badNodes(cur: DataFrame, k: Int): DataFrame =
    cur.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") < k).select(col("n").as("u"))

  /** One simultaneous-peel round: drop every edge touching a removed
    * node — two anti-joins of the canonical edge frame against the
    * node-sized removal set (equi-keyed; KCoreSpec pins that neither
    * degenerates to a loop join). */
  private[operators] def removeNodes(cur: DataFrame, bad: DataFrame): DataFrame =
    cur
      .join(bad, Seq("u"), "left_anti")
      .join(bad.select(col("u").as("v")), Seq("v"), "left_anti")
      .select(col("u"), col("v"))

  /** Peel rounds between edge-frame compactions: each round in between
    * touches the big frame with ONE read-only scan (the decrement
    * join); only every COMPACT_EVERY rounds is the shrunk frame
    * re-materialized. The 100x sweep showed per-round re-checkpointing
    * of the edge frame was kcore's scaling killer (exponent 0.893). */
  private val CompactEvery = 3

  def extract(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = edges.sparkSession
    // CANONICAL edge frame (u < v), one row per edge (half the bytes of
    // the former both-orientations frame), pinned once per compaction.
    var cur = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    // INCREMENTAL DEGREES: the full degree aggregate runs ONCE; each
    // peel round then (a) reads this round's removals off the
    // node-sized degree table — no edge scan for the probe at all —
    // and (b) updates degrees by the decrement counts of edges
    // incident to the removed set: one scan of the (lazily filtered)
    // edge frame, node-sized shuffles, NO sort and NO re-checkpoint of
    // the big frame. Removals accumulate in a node-sized set; the big
    // frame is compacted against it only every CompactEvery rounds, so
    // the lazy anti-join chain stays depth-1 and the frame's
    // materialization cost is paid R/CompactEvery times, not R.
    var deg = cur.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // removal sets since the last compaction: each `bad` is a TRIVIAL
    // filter over its round's checkpointed degree table — never
    // checkpointed itself (one less job per round); the superseded
    // degree frames are therefore kept alive on `spent` until the
    // compaction that folds their removal sets into the big frame.
    var badFrames = List.empty[DataFrame]
    var spent = List.empty[DataFrame]
    var iter = 0
    var done = false
    def liveEdges: DataFrame =
      badFrames.foldLeft(cur)((e, b) => removeNodes(e, b))
    // hand-rolled: the edge frame is compacted on its own schedule
    while (!done && iter < maxIter) {
      val bad = deg.filter(col("d") < k).select(col("node").as("u"))
      if (bad.isEmpty) {
        done = true
      } else {
        // decrement counts: one scan of the live frame, both endpoint
        // directions in one pass (explode), removal set broadcast-sized
        val dec = liveEdges
          .select(explode(array(
            struct(col("u").as("n"), col("v").as("o")),
            struct(col("v").as("n"), col("u").as("o")))).as("e"))
          .select(col("e.n").as("node"), col("e.o").as("o"))
          .join(bad.select(col("u").as("o")), Seq("o"))
          .groupBy(col("node")).agg(count(lit(1)).as("__dec"))
        val nextDeg = deg
          .join(bad.select(col("u").as("node")), Seq("node"), "left_anti")
          .join(dec, Seq("node"), "left")
          .select(col("node"),
            (col("d") - coalesce(col("__dec"), lit(0L))).as("d"))
          .localCheckpoint()
        spent = deg :: spent
        deg = nextDeg
        badFrames = bad :: badFrames
        if (badFrames.size >= CompactEvery) {
          val nextCur = liveEdges.localCheckpoint()
          graft.core.Fixpoint.releaseLocal(cur)
          spent.foreach(graft.core.Fixpoint.releaseLocal)
          spent = Nil
          badFrames = Nil
          cur = nextCur
        }
        iter += 1
      }
    }
    spent.foreach(graft.core.Fixpoint.releaseLocal)
    // deg IS (node, degree) of the surviving subgraph — maintained
    // exactly, so no closing edge scan is needed.
    deg.select(col("node"), col("d").as("degree"))
  }

  /** Coreness (degeneracy ordering value) per node: the largest k for
    * which the node survives the k-core, for k in 1..maxK. Peels
    * incrementally — each k starts from the previous core's already-
    * shrunk edge set, so total work is the k-core chain, not maxK
    * independent extractions. Nodes absent from the edge list have
    * coreness 0 and are not returned. */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
      maxK: Int, maxIter: Int = 100): DataFrame = {
    require(maxK >= 1, s"need maxK >= 1, got $maxK")
    var cur = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    def nodesOf(e: DataFrame): DataFrame =
      e.select(explode(array(col("u"), col("v"))).as("u")).distinct()
    // coreness(v) = max k whose core still contains v: at each k the
    // nodes peeled AWAY get coreness k-1; survivors of the final core
    // get maxK. One node-sized frame per k, unioned lazily at the end.
    var layers = List.empty[DataFrame]
    var k = 1
    while (k <= maxK && !cur.isEmpty) {
      // eager: `before` must survive the peel rounds releasing `cur`
      val before = nodesOf(cur).localCheckpoint()
      // peel to the k-core
      var iter = 0
      var done = false
      // hand-rolled: each round's `bad` step-scratch frame is released
      while (!done && iter < maxIter) {
        val bad = badNodes(cur, k).localCheckpoint()
        if (bad.isEmpty) {
          graft.core.Fixpoint.releaseLocal(bad)
          done = true
        } else {
          val next = removeNodes(cur, bad).localCheckpoint()
          graft.core.Fixpoint.releaseLocal(bad)
          graft.core.Fixpoint.releaseLocal(cur)
          cur = next
          iter += 1
        }
      }
      val peeled = before.join(nodesOf(cur), Seq("u"), "left_anti")
        .select(col("u").as("node"), lit((k - 1).toLong).as("coreness"))
        .localCheckpoint()
      graft.core.Fixpoint.releaseLocal(before)
      layers = peeled :: layers
      k += 1
    }
    val finalCore = nodesOf(cur)
      .select(col("u").as("node"), lit(maxK.toLong).as("coreness"))
    (finalCore :: layers).reduce(_ unionByName _)
      .filter(col("coreness") > 0L)
  }
}
