package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixpoint

/** Connected components over a pair table — the step that turns near-dup
  * PAIRS (minhash/simhash/ngram/embedding candidates) into dedup
  * CLUSTERS: every document gets the minimum reachable document id as its
  * cluster id, so one representative per cluster survives and the rest
  * are deletions. (The reference stops at pair detection; a training-data
  * dedup pipeline needs the transitive closure — A~B and B~C must drop
  * two of {A,B,C}, not one.)
  *
  * Primary algorithm ([[labels]]): alternating large-star / small-star
  * from the public MapReduce-CC literature (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14). Each round rewrites the
  * edge set with two neighborhood-local operations — every node links its
  * larger neighbors (large-star) / its smaller neighbors and itself
  * (small-star) to the minimum node it can see — and the fixpoint is a
  * star per component rooted at the component minimum. Convergence is
  * O(log n) rounds on real graphs (O(log^2 n) worst case), INDEPENDENT of
  * component diameter: a pathological chain-shaped near-dup graph that
  * would take thousands of propagation rounds at 100 TB converges in a
  * couple dozen star rounds. Each operation is one groupBy + one join on
  * the node id — ordinary shuffles, nothing driver-side but the loop.
  *
  * [[labelsPropagation]] keeps the straightforward min-label propagation
  * (one label-join per round, O(diameter) rounds) as an independent
  * cross-check: two different algorithms agreeing is the spec-level
  * oracle for the closure itself.
  *
  * Iteration mechanics, learned the hard way: every generation is cut
  * with `localCheckpoint` (eager). Persisting alone is NOT enough — the
  * logical plan still grows by two joins per round, so Catalyst
  * re-analyzes an ever-deeper tree and driver-side planning dominates
  * (measured: round 3 cost 6x round 0 on an 853-node graph). The
  * checkpoint truncates lineage to the materialized blocks. Trade-off:
  * localCheckpoint blocks are not rebuildable after executor loss — on a
  * long cluster job, set a checkpoint dir and swap to `checkpoint`; for
  * the convergence loop's generation lifetime this is the standard
  * iterative-graph pattern (GraphX does the same).
  */
object ConnectedComponents {

  /** (id, cluster_id) for every node appearing in `edges`; cluster_id is
    * the component's minimum id (min works for both string and numeric
    * id types). Runs Spark actions internally (eager checkpoints + the
    * per-round convergence check) — inherent to a fixpoint loop. */
  def labels(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    labelsWithRounds(edges, aCol, bCol, maxIter)._1

  /** [[labels]] plus the number of star rounds run — exposed for specs
    * pinning the O(log n) round bound. */
  private[graft] def labelsWithRounds(edges: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 50): (DataFrame, Int) = {
    // ONE materialization of the upstream pair pipeline: allNodes and
    // the canonical edge set both derive from these blocks — two
    // separate checkpoints here would execute the (often expensive:
    // fuzzy-join candidates, minhash bands) input lineage twice
    val raw = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .localCheckpoint()
    // isolated-after-self-loop-drop nodes still get a (self) label
    val allNodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id")))
      .distinct()
      .localCheckpoint()
    // canonical big->small orientation, self-loops dropped.
    // (A pin-on-small at this checkpoint was tried and REVERTED: unlike
    // the BFS layer frames, every star round's first consumer is an
    // aggregation whose own ENSURE exchange restores parallelism, so
    // the pin's extra per-round exchange was pure overhead — measured
    // +0.8–5 s across the CC-composite queries, OPTIMIZATION_r14.md.)
    val canonical = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // `maxIter + 1` rounds: a graph whose LAST edge-set change lands
    // exactly in round maxIter still gets the confirmation round that
    // observes the fixpoint (same edge as labelsPropagation's)
    val res = Fixpoint.iterate(canonical, maxIter + 1) { g =>
      if (g.round == 0) Fixpoint.releaseLocal(raw) // both consumers are cut
      // an empty edge set is already the fixpoint; a star round never
      // empties a non-empty one, so this only stops before round 1
      if (g.rows == 0L) None else Some(starRound(g.df))
    } { (prev, next) =>
      // both sides are distinct canonical sets: equal count + empty
      // difference <=> equal sets <=> fixpoint (a star per component)
      next.rows == prev.rows && next.df.except(prev.df).isEmpty
    }
    // A truncated fixpoint loop yields silently WRONG cluster ids (nodes
    // still pointing at non-minimum intermediates) — fail, don't return.
    if (!res.stopped)
      sys.error(
        s"ConnectedComponents did not converge after $maxIter star rounds " +
          "(edge set still changing); raise maxIter — alternating " +
          "large-star/small-star needs O(log n) rounds.")
    // fixpoint edges are (member, component-min); roots carry no out-edge
    val labeled = allNodes.join(
        res.last.df.select(col("u").as("id"), col("v").as("cluster_id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    (labeled, res.rounds)
  }

  /** One alternating large-star / small-star round over a canonical
    * (big -> small) edge set. */
  private def starRound(e: DataFrame): DataFrame = {
    // large-star: every node u links its STRICTLY LARGER neighbors to
    // the minimum of its full neighborhood (m <= u < v, so the emitted
    // (v, m) pairs stay big->small oriented)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val lsMin = sym.groupBy(col("u"))
      .agg(min(col("v")).as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))
    val ls = sym.join(lsMin, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
    // small-star: on the big->small orientation, every node u links its
    // smaller neighbors AND ITSELF to its minimum neighbor
    val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
    ls.join(ssMin, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(ssMin.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Iterative min-label propagation — the independent cross-check for
    * [[labels]]. Each round every node takes the minimum label among
    * itself and its neighbors (one join + one aggregation); rounds needed
    * equal the longest min-label path in any component, so prefer
    * [[labels]] for anything that could contain a long chain. */
  def labelsPropagation(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // one materialization of the upstream pair pipeline; every round
    // reads these bounded blocks, never the lineage
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var changed = 0L
    // `maxIter + 1` rounds: a graph whose LAST label change lands
    // exactly in round maxIter must still get its confirmation round
    // (changed == 0) instead of being rejected as non-converged
    val res = Fixpoint.iterate(
        sym.select(col("src").as("id")).distinct()
          .withColumn("cluster_id", col("id")), maxIter + 1) { g =>
      val labels = g.df.drop("__changed")
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      // __changed rides inside the checkpointed generation so the
      // convergence count reads the same blocks the next round joins
      Some(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).as("__changed")))
    } { (_, next) =>
      changed = next.df.filter(col("__changed")).count()
      changed == 0
    }
    Fixpoint.releaseLocal(sym) // the last generation no longer reads it
    // A truncated fixpoint is indistinguishable from a converged one to
    // the caller but yields silently WRONG cluster ids (a >maxIter-hop
    // chain keeps multiple labels per component) — fail, don't return.
    if (!res.stopped)
      sys.error(
        s"ConnectedComponents did not converge after $maxIter iterations " +
          s"($changed labels still changing); raise maxIter — rounds needed " +
          "equal the longest min-label path in any component.")
    res.last.df.drop("__changed")
  }

  /** Cluster summary: representative (= cluster_id, the minimum member),
    * member count. */
  def clusters(labelsDf: DataFrame): DataFrame =
    labelsDf.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
}
