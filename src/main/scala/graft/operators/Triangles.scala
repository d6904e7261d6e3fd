package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Bloom, CacheScope, Fixpoint}

/** Per-node triangle counting + local clustering coefficient — the graph
  * statistic behind community detection, link-spam screens, and graph
  * quality reports over co-occurrence graphs (parts co-ordered, users
  * co-visiting, docs sharing fingerprints).
  *
  * Algorithm (Suri & Vassilvitskii's MR triangle counting): canonicalize
  * to undirected distinct edges, then ORIENT each edge from its
  * lower-(degree, id) endpoint to the higher one. Every triangle has
  * exactly one node with two outgoing oriented edges (its minimum-degree
  * corner), so enumerating wedges only at oriented sources and closing
  * them against the canonical edge set counts each triangle exactly once
  * — and the wedge count is sum over nodes of C(outdeg', 2) with outdeg'
  * bounded by O(sqrt(m)) on any graph, the property that keeps the
  * shuffle polynomial-bounded when a celebrity node would make naive
  * id-ordered wedging quadratic. Total work O(m^1.5); three shuffles
  * (degree agg, wedge self-join, closing equi-join), no cross product.
  *
  * Counts are orientation-invariant, so an oracle may verify with any
  * other orientation (e.g. plain id order).
  */
object Triangles {

  /** @param edges undirected edge list (self-loops and duplicates fine —
    *               canonicalized away); endpoints any orderable type.
    * Output: node, degree (distinct undirected neighbors), n_tri
    * (triangles through the node), clustering (2*n_tri / (deg*(deg-1)),
    * 0.0 for degree < 2). */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val spark = edges.sparkSession
    // retained: the canonical edge set is consumed FOUR times (degree
    // derivation scans it twice via the endpoint union, orientation
    // once, wedge close once) and its upstream derivation is often the
    // expensive part (e.g. a co-occurrence self-join) — without
    // retention that subtree re-executes per consumer whenever AQE
    // breaks exchange reuse, which measured as a super-linear wall-clock
    // exponent at 10× volume (ScaleCheck round 9)
    val und = scope.retain(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // one count over the retained blocks: the size signal for the
    // node-sized broadcasts and the wedge Bloom (and the Bloom's
    // expectedNumItems) — the same known-small discipline as
    // Fixpoint.pinSmall, decided from the measured count, never from
    // catalyst estimates (the cached distinct carries none). At the
    // 4M-edge ceiling the node tables hold ≤ 8M rows (|V| ≤ 2·|E|); the
    // co-order graph has far fewer (sf0.1: ≤ 20k parts, ~1.2M edges).
    val undCount = und.count()

    // |V|-sized degree table, retained: it feeds BOTH orientation join
    // legs and the final per-node join, and each consumer used to
    // re-execute the union-aggregate — i.e. two more full double-scans
    // of the edge set (three 64-task ~20 s-task-time stages in the r15
    // StageProfile); one materialization, three readers (guide §5).
    val deg = scope.retain(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree")))
    // Broadcast it when the edge count proves it small (|V| ≤ 2·|E|) —
    // the cached-distinct input has no catalyst stats, so the planner's
    // static choice was a pair of SortMergeJoins that exchanged the
    // edge set twice (plans/r15/q_triangles_before); guide §3.1. Above
    // the ceiling the equi-joins shuffle as before.
    val degB = Fixpoint.broadcastSmall(deg, undCount)

    // Orient a->b when (deg(a), a) < (deg(b), b).
    val withDeg = und
      .join(degB.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(degB.select(col("node").as("b"), col("degree").as("db")), "b")
    val oriented0 = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // Pin the wedge join's parallelism (REPARTITION_BY_NUM — AQE never
    // re-coalesces it): the self-join's INPUT is a few MB, so AQE's
    // byte-based coalescing ran the wedge generation on 6 tasks while
    // its OUTPUT was 413 MB (measured, StageProfile r15) — the same
    // "shuffle bytes are a bad proxy for fan-out work" pathology as the
    // r14 loop-frame pins (guide §2.5). RETAINED because the self-join
    // re-aliases one leg, which defeats exchange reuse — unretained,
    // the repartition exchange and the whole orientation projection
    // executed twice (two 11.2 MB map stages, StageProfile r15); the
    // cache keeps HashPartitioning(src, n), so both wedge legs read it
    // exchange-free.
    val oriented = scope.retain(oriented0.repartition(
      Fixpoint.shufflePartitions(spark), col("src")))

    // Wedges at each oriented source; id order on (d1, d2) dedups the
    // unordered neighbor pair.
    val w1 = oriented.select(col("src"), col("dst").as("d1"))
    val w2 = oriented.select(col("src"), col("dst").as("d2"))
    val wedges = w1.join(w2, "src").filter(col("d1") < col("d2"))

    // Bloom pre-filter (guide §3.2): only wedges whose (d1, d2) closes
    // an edge survive the closing join, but every wedge used to cross
    // the exchange first — the single biggest shuffle in the plan
    // (O(m^1.5) wedge rows vs m edges; 413 MB vs 7 MB measured at
    // sf0.1). A Bloom over the canonical edge set's pair hash drops
    // non-closing wedges BEFORE the exchange at ~1% false-positive
    // cost; false positives are removed by the equi-join itself, false
    // negatives don't exist, so the result is bit-identical. Built only
    // when the edge count keeps the filter small enough to ship with
    // every task (~9.6 bits/key at 1%: about 4.8 MB at 4M edges); the
    // fallback is the unfiltered join, identical to before.
    val wedgesScreened = if (undCount <= Fixpoint.PinMaxRows)
      wedges.filter(Bloom.mightContain(und, xxhash64(col("a"), col("b")),
        math.max(undCount, 1L), 0.01, xxhash64(col("d1"), col("d2"))))
    else wedges

    // Close each wedge against the canonical edge set (d1 < d2 already
    // holds, so the wedge pair is in canonical order). shuffle_hash: the
    // edge side is m rows while the wedge side is O(m^1.5) — a sort-merge
    // join would SORT the wedge fan-out (the n·log n over the biggest
    // table in the plan; measured 16× wall at 10× volume before the
    // hint), a shuffled hash join builds on the small side and streams
    // the wedges untouched.
    val tri = wedgesScreened.join(und.hint("shuffle_hash"),
      col("d1") === col("a") && col("d2") === col("b"))
      .select(col("src").as("x"), col("d1").as("y"), col("d2").as("z"))

    val triPerNode = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

    // triPerNode is node-bounded: broadcast it into the left join under
    // the same edge-count gate (build-right outer join)
    deg.join(Fixpoint.broadcastSmall(triPerNode, undCount), Seq("node"),
      "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0)).otherwise(
          lit(2.0) * col("n_tri").cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0)))))
  }
}
