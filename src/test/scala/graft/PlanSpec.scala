package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.FormattedMode

/** Plan-quality regression tests: the scale claims (pushdown, pruning,
  * broadcast) are asserted against the actual physical plans so a
  * refactor can't silently regress them. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("q_full_copy prunes the scan to the destination columns") {
    val p = plan("q_full_copy")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_quantity:double,l_shipdate:timestamp"))
    assert(!p.contains("l_comment") && !p.contains("l_tax"))
  }

  test("q_key_range pushes the BETWEEN predicate into the parquet scan") {
    val p = plan("q_key_range")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_orderkey,100)") &&
      p.contains("LessThanOrEqual(l_orderkey,2000)"))
  }

  test("q_mapping_join broadcasts the dimension side") {
    assert(plan("q_mapping_join").contains("BroadcastHashJoin"))
  }

  test("q_merge_incremental anti-join reads only the increment's key columns") {
    val p = plan("q_merge_incremental")
    assert(p.contains("LeftAnti"))
    // the anti-join's build side scans just (o_orderkey, o_orderdate)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp"))
  }

  test("q_watermark_inc pushes the watermark predicate to the scan") {
    val p = plan("q_watermark_inc")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_orderdate"))
  }

  test("q_tfidf does not force a broadcast of the unbounded vocabulary") {
    // the df (vocabulary) join must stay a shuffle join in the compiled
    // plan — only the one-row corpus-size aggregate may carry a broadcast
    // hint. AQE is free to convert the df join at runtime when it proves
    // small; what's pinned here is that nothing FORCES it at any scale.
    val analyzed = SparkEntry.queries("q_tfidf")(spark, dir)
      .queryExecution.analyzed.toString
    val hints = "(?m)ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 1, s"expected exactly the n_docs broadcast hint, got $hints:\n$analyzed")
  }

  test("q1_agg aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q1_agg")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // formatted plans list operators leaves-first: a partial aggregate
    // must exist below the exchange
    assert(p.contains("partial_sum") || p.contains("partial_count") ||
      p.split("Exchange").head.contains("HashAggregate") ||
      p.indexOf("HashAggregate", exchange) != firstAgg)
  }

  test("q_range_join plans as an equi-join on bands, never a nested loop") {
    // the whole point of the band decomposition: a plain BETWEEN join has
    // no equi-key and Spark would plan BroadcastNestedLoopJoin/cartesian
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"band join regressed to a non-equi plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("q_bloom_semi filters the probe side with might_contain before the join") {
    val p = plan("q_bloom_semi")
    assert(p.contains("might_contain"), "bloom prefilter missing from plan")
    assert(p.contains("LeftSemi"), "exact semi-join missing from plan")
  }

  test("q_triangles screens wedges with might_contain, not a Scala UDF") {
    val q = SparkEntry.queries("q_triangles")(spark, dir).queryExecution
    assert(q.explainString(FormattedMode).contains("might_contain"),
      "wedge Bloom screen missing from plan")
    val udfs = q.optimizedPlan.flatMap(_.expressions)
      .filter(_.exists(_.isInstanceOf[ScalaUDF]))
    assert(udfs.isEmpty, s"Scala UDF in plan: $udfs")
  }

  test("q_theta_overlap and q_quantile_state build sketches with " +
    "Catalyst aggregates, not a Scala Aggregator") {
    for (name <- Seq("q_theta_overlap", "q_quantile_state")) {
      val q = SparkEntry.queries(name)(spark, dir).queryExecution
      val typed = q.optimizedPlan.flatMap(_.expressions)
        .filter(_.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]))
      assert(typed.isEmpty, s"Scala Aggregator in $name plan: $typed")
      assert(q.optimizedPlan.toString.contains(
        if (name == "q_theta_overlap") "theta_union_agg"
        else "kll_merge_agg_double"), s"sketch aggregate missing from $name")
    }
  }

  test("q_packing runs as one window sort per shard, no extra exchange") {
    // exactly two exchanges may appear: the scan repartition and the
    // hash partitioning feeding the per-shard window sort
    val p = plan("q_packing")
    assert(p.contains("Window"), "prefix sums must be a Window, not a join")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"unexpected exchanges ($exchanges):\n$p")
  }

  test("q_boilerplate reuses the shingle table across both aggregations") {
    // the (doc, shingle) table feeds the df aggregation AND the join
    // probe; it must be computed once (persisted) — not re-derived from
    // a second parquet scan per consumer
    val p = plan("q_boilerplate")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"shingle derivation duplicated ($scans scans):\n$p")
  }

  test("q_ann_ivf (nProbe=1) scores centroids once, not per consumer") {
    // the fast path reuses the corpus assignment's own centroid_id for
    // the probe side: exactly ONE centroid-scoring cross join (inside
    // ivfAssign) may appear, and the shared assignment must be persisted
    // (InMemoryRelation) instead of derived once per join side
    // assert on the optimized logical plan, where the cached assignment
    // is a leaf: no condition-less (cross) join may remain OUTSIDE it,
    // and both consumers must read the SAME cache
    val opt = SparkEntry.queries("q_ann_ivf")(spark, dir)
      .queryExecution.optimizedPlan
    val crosses = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isEmpty => j
    }
    assert(crosses.isEmpty,
      s"nProbe=1 probe re-scores centroids outside the cached assignment:\n$opt")
    val caches = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.length >= 2 && caches.map(_.cacheBuilder).distinct.length == 1,
      "shared IVF assignment not persisted once for both consumers")
  }

  test("q_line_dedup and q_rare_tokens derive their exploded table once") {
    // same property as q_boilerplate: the line/token table feeds both
    // the occurrence aggregation and the join probe — one scan, one
    // persisted intermediate, never a second scan+explode pipeline
    Seq("q_line_dedup", "q_rare_tokens").foreach { q =>
      val p = plan(q)
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans <= 1 && p.contains("InMemoryRelation"),
        s"$q derives its exploded table per consumer ($scans scans)")
    }
  }

  test("q_decay derives the reference date lazily from a ts-only pruned pre-pass") {
    val p = plan("q_decay")
    // the 1-row max broadcasts into a cross join — no eager driver job,
    // and its scan reads nothing but the timestamp column (physical type
    // has drifted across driver testdata generations: bigint nanos, then
    // micros-NTZ — the pruning property is type-agnostic)
    assert("ReadSchema: struct<ts:(bigint|timestamp_ntz|timestamp)>\n".r
        .findFirstIn(p).isDefined,
      "max-date pre-pass must prune to the ts column alone")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("partial_max"))
    // the corpus aggregates map-side before its shuffle
    assert(p.contains("partial_sum"))
  }

  test("q_anomaly windows over the collapsed daily table in one pass") {
    val p = plan("q_anomaly")
    // scan prunes to (ts, user_id); the corpus collapses via groupBy
    // BEFORE any window, and all three frame aggregates share ONE window
    assert("ReadSchema: struct<ts:(bigint|timestamp_ntz|timestamp),user_id:bigint>".r
      .findFirstIn(p).isDefined)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1)
    val windows = "\\(\\d+\\) Window\n".r.findAllIn(p).length
    assert(windows == 1, s"expected one Window node, got $windows")
    assert(p.contains("partial_count"))
  }

  test("q_heavy combines Misra-Gries summaries map-side") {
    val p = plan("q_heavy")
    // the sketch partial-aggregates below the exchange — each partition
    // ships one bounded summary, never its raw rows
    assert("partial_misragries".r.findAllIn(p.toLowerCase).nonEmpty,
      s"expected a partial sketch aggregate below the shuffle")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)]"))
  }

  test("q_dsir scans and feature-explodes the corpus once") {
    // the retained (doc_id, lang, bucket) stream feeds the target
    // counts, the raw counts, and the per-document counts — the naive
    // composition re-explodes the corpus per consumer (3x md5 explosion,
    // 4x parquet scan)
    val p = plan("q_dsir")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"q_dsir derives its feature stream per consumer ($scans scans)")
  }

  test("ivfAssign assigns centroids in one map-side pass — no window, no fan-out shuffle") {
    // the round-6 plan shuffled |corpus| x |centroids| scored rows through
    // a window exchange; the assignment is now an array argmin over one
    // broadcast centroid row — the scored fan-out lives only inside a
    // per-row array, so the plan may contain no Window, no Sort(Aggregate),
    // and no hash-partitioned Exchange at any nAssign
    val e = Tables.load(spark, dir, "embeddings")
    val cents = e.filter(org.apache.spark.sql.functions.col("vec_id") < 16)
    Seq(1, 3).foreach { nAssign =>
      val p = graft.similarity.CosineSearch.ivfAssign(
          e, cents, "vec_id", "embedding", "vec_id", nAssign)
        .queryExecution.explainString(FormattedMode)
      assert(!p.contains("Window"),
        s"nAssign=$nAssign ranks centroids with a window:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"nAssign=$nAssign shuffles the scored fan-out:\n$p")
      assert("Sort(Aggregate)? \\(".r.findFirstIn(p).isEmpty,
        s"nAssign=$nAssign sorts the scored fan-out:\n$p")
    }
  }

  test("q_span_excise reads the corpus once for detection and excision") {
    // exciseSpans retains the docs projection so the shingle derivation
    // and the excision join share one parquet scan
    val p = plan("q_span_excise")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"span excision re-scans the corpus ($scans scans):\n$p")
  }

  test("q_gopher_quality is one map-side pass over a pruned scan") {
    // five document rules, zero shuffles: any Exchange here means a rule
    // got rewritten as an aggregation/window; the scan must read only
    // (doc_id, text)
    // (the loader's round-robin spread of the single-file test parquet
    // is the one allowed exchange — it carries no key and no data growth)
    val p = plan("q_gopher_quality")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    val roundRobin = "RoundRobinPartitioning".r.findAllIn(p).length
    assert(exchanges == roundRobin, s"gopher rules shuffle on a key:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      s"gopher rules aggregate/rank:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"gopher scan not pruned to (doc_id, text):\n$p")
  }

  test("q_c4_lines shuffles once — the reassembly aggregation only") {
    // chunking + line verdicts are array arithmetic inside the scan
    // stage; the single KEYED exchange is the per-document reassembly
    // groupBy (the loader's round-robin spread rides in front of it)
    val p = plan("q_c4_lines")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed exchange, got $keyed:\n$p")
    assert(!p.contains("Window"), s"line rules rank with a window:\n$p")
  }

  test("q_semdedup derives the corpus assignment once for pairs and keeper") {
    // the IVF assignment feeds the pair join (both sides) AND the keeper
    // scoring — it must be persisted, and no centroid cross join may
    // remain outside the cached leaf
    val opt = SparkEntry.queries("q_semdedup")(spark, dir)
      .queryExecution.optimizedPlan
    val crosses = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isEmpty => j
    }
    assert(crosses.isEmpty,
      s"semdedup re-scores centroids outside the cached assignment:\n$opt")
    val caches = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.nonEmpty && caches.map(_.cacheBuilder).distinct.length == 1,
      "shared IVF assignment not persisted once for all consumers")
  }

  test("q_weighted_sample's verdict is a map-side filter — no keyed exchange") {
    val p = plan("q_weighted_sample")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    val roundRobin = "RoundRobinPartitioning".r.findAllIn(p).length
    assert(exchanges == roundRobin, s"weighted sample shuffles on a key:\n$p")
    assert(!p.contains("Window") && !p.contains("HashAggregate"),
      s"weighted sample aggregates/ranks:\n$p")
  }

  test("q_curate_pipeline shuffles once — the C4 reassembly only") {
    // gopher rules and the sampling verdict are filters in the scan
    // stage; the single keyed exchange is cleanLines' reassembly groupBy
    val p = plan("q_curate_pipeline")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed exchange, got $keyed:\n$p")
  }

  test("q_corpus_diff shuffles fingerprints, never document text") {
    // the join key exchange must carry (id, 32-hex fp) — if a refactor
    // moves fingerprinting above the join, text columns appear here
    val p = plan("q_corpus_diff")
    val exchanges = p.split("\\(\\d+\\) ").filter(_.startsWith("Exchange"))
    val keyed = exchanges.filter(_.contains("hashpartitioning"))
    assert(keyed.nonEmpty, s"expected a keyed join exchange:\n$p")
    keyed.foreach(b => assert(!b.contains("text#"),
      s"diff shuffles document text:\n$b"))
  }

  test("q_centroids aggregates partially before the (group, dim) shuffle") {
    val p = plan("q_centroids")
    assert(p.contains("Generate")) // posexplode fan-out
    val exchange = p.indexOf("Exchange")
    assert(exchange >= 0 &&
      (p.contains("partial_sum") || p.contains("partial_count")),
      "map-side combine missing — every element row would shuffle")
  }

  test("q_bm25 filters terms pre-shuffle, broadcasts only bounded sides, " +
      "and takes the top-k without a global sort") {
    val p = plan("q_bm25")
    // per-partition heaps, not a corpus-wide sort exchange
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k regressed to a global sort:\n$p")
    // the query-vocabulary filter sits DIRECTLY on the explode output —
    // map-side by construction, so only matching tokens ever shuffle
    assert("Filter \\(\\d+\\)\\n[^\\n]*Generate \\(".r.findFirstIn(p).nonEmpty,
      s"term filter no longer sits on the explode:\n$p")
    assert("Condition : term#\\d+ IN \\(merge,window,dup\\)".r
        .findFirstIn(p).nonEmpty,
      "query-vocabulary IN filter missing from the plan")
    // exactly two forced broadcasts: the |queryTerms|-bounded df table
    // and the one-row corpus stats — nothing corpus-sized
    val analyzed = SparkEntry.queries("q_bm25")(spark, dir)
      .queryExecution.analyzed.toString
    val hints = "(?m)ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 2, s"expected df + stats broadcast hints, got $hints")
  }

  test("q_ngram_lm never forces a broadcast of the vocabulary-sized tables") {
    // the (w1,w2) model and the context counts are unbounded at 100 TB —
    // only the one-row successor-vocabulary aggregate may carry a hint
    // (q_tfidf's rule); AQE remains free to convert at runtime
    val analyzed = SparkEntry.queries("q_ngram_lm")(spark, dir)
      .queryExecution.analyzed.toString
    val hints = "(?m)ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 1, s"expected only the V broadcast hint, got $hints")
  }

  test("q_scd2_history reuses one key exchange across flag, run, and lead") {
    // the change-flag window, the run aggregation, and the interval
    // window all cluster on user_id — EnsureRequirements must satisfy
    // them with a single hash exchange
    val p = plan("q_scd2_history")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed exchange, got $keyed:\n$p")
  }

  test("q_km_risk derives the risk set by running count — no cross join") {
    // Survival.riskTable exists to kill the cohort×times cross join the
    // naive KM formulation implies; pin that it stays dead. The ONE
    // remaining nested-loop join is qTimeToConvert's one-row scalar
    // `ref = max(us)` broadcast (the adjudicated scalar pattern) — so
    // exactly 1, and the risk set itself comes from a Window running
    // count over the per-time aggregate.
    val p = plan("q_km_risk")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // count tree nodes, not the detail section's echo of each node
    val bnlj = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).length
    assert(bnlj == 1, s"expected only the scalar-ref join, got $bnlj:\n$p")
    assert(p.contains("Window"), s"running-count window missing:\n$p")
  }

  test("q_geo_nearest joins on cells — no cartesian, no nested-loop join") {
    // the whole point of the cell screen: the candidate join must compile
    // to an equi-join on (cx, cy), never an all-pairs product
    val p = plan("q_geo_nearest")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop join:\n$p")
  }

  test("q_proj_topk screens with bounded aggregation — no window over the fan-out") {
    // the ivfAssign lesson, pinned for the JL screen: candidate cut and
    // final rank are TopKAggregator partial aggregations, so the
    // |queries| x |corpus| scored fan-out is never window-sorted through
    // an exchange
    val p = plan("q_proj_topk")
    assert(!p.contains("Window"), s"screen ranks with a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the bounded top-k aggregator:\n$p")
  }

  test("q_containment derives the signature-set table once") {
    // sizes, the hot-fp screen, and both self-join legs all read the
    // retained (id, fp) table — one winnowing pass over one corpus scan
    val p = plan("q_containment")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"containment re-derives signatures ($scans scans):\n$p")
  }

  private def count(p: String, pat: String): Int =
    pat.r.findAllIn(p).length

  test("q_interpolate runs both bracket windows over one sort-shuffle") {
    // forward last() and backward first() share partitioning+ordering,
    // so Catalyst must plan ONE Sort and ONE hash Exchange for the two
    // Window nodes — a second sort would double the operator's cost
    val p = plan("q_interpolate")
    assert(count(p, "\\(\\d+\\) Window") == 2, s"window count:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") == 1, s"sort count:\n$p")
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
  }

  test("q_bins assigns bins with one sort — rank and count share it") {
    val p = plan("q_bins")
    assert(count(p, "\\(\\d+\\) Sort") == 1, s"sort count:\n$p")
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
  }

  test("q_neg_sample joins on (bucket, position) — no cartesian, " +
      "no global window") {
    val p = plan("q_neg_sample")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"pair join degenerated:\n$p")
    // every window must carry the bucket partition key — an empty
    // partition spec would funnel the whole corpus into one task
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__b")),
      s"window lost its bucket partitioning:\n$p")
  }

  test("q_pareto: bucketed local frontier first, single partition only " +
      "for survivors") {
    val p = plan("q_pareto")
    // phase 1 shuffles by bucket hash, phase 2's SinglePartition input
    // is the reduced survivor set — exactly one of each
    assert(count(p, "hashpartitioning\\(__b") == 1, s"phase-1 exchange:\n$p")
    assert(count(p, "SinglePartition") == 1, s"phase-2 exchange:\n$p")
    assert(count(p, "\\(\\d+\\) Window") == 2, s"window count:\n$p")
  }

  test("q_expectations runs the suite in one scan and the FK row in one") {
    // run(): every row-level check is a conditional count in a single
    // aggregate over one customer scan; foreignKey(): one more customer
    // scan with a broadcast nation join — 3 parquet scans total
    // (customer x2 + nation), and the FK dimension side is broadcast
    val p = plan("q_expectations")
    assert(count(p, "\\(\\d+\\) Scan parquet") == 3, s"scan count:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"FK join not broadcast:\n$p")
  }

  test("q_cusum shares one sort between rank and running sum") {
    val p = plan("q_cusum")
    assert(count(p, "\\(\\d+\\) Window") == 1, s"window count:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") <= 2, s"sort count:\n$p")
  }

  test("q_attribution resolves both touch models over one sort-shuffle") {
    val p = plan("q_attribution")
    assert(count(p, "\\(\\d+\\) Window") == 2, s"window count:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") == 1, s"sort count:\n$p")
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
  }

  test("q_quarantine tags rows without any exchange") {
    val p = plan("q_quarantine")
    assert(!p.contains("Exchange hashpartitioning") &&
      count(p, "\\(\\d+\\) Window") == 0 &&
      count(p, "\\(\\d+\\) Sort") == 0,
      s"quarantine tagging must stay map-side:\n$p")
  }

  test("q_exists_semi decorrelates EXISTS to one semi join, pruned scans") {
    val p = plan("q_exists_semi")
    assert(p.contains("LeftSemi"), s"expected a left-semi join:\n$p")
    assert(!p.contains("NestedLoop"), s"no per-row probe allowed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:"),
      s"lineitem scan must prune to the two needed columns:\n$p")
  }

  test("q_anti_agg decorrelates NOT EXISTS to an anti join with the " +
    "priority filter pushed to the scan") {
    val p = plan("q_anti_agg")
    assert(p.contains("LeftAnti"), s"expected a left-anti join:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the EXISTS-side predicate must reach PushedFilters:\n$p")
    assert(!p.contains("NestedLoop"), s"no per-row probe allowed:\n$p")
  }

  test("q_scalar_corr decorrelates both correlated scalars to aggregate " +
    "joins — no surviving subquery, no nested loop") {
    val p = plan("q_scalar_corr")
    assert(!p.contains("Subquery:"),
      s"correlated scalars must be rewritten to joins:\n$p")
    assert(!p.contains("NestedLoop"), s"no per-row probe allowed:\n$p")
    // the per-part sum and count each become one aggregate over lineitem
    assert(p.contains("LeftOuter"),
      s"decorrelated aggregate joins expected:\n$p")
  }

  test("q_mannwhitney windows over the distinct-value table only") {
    val p = plan("q_mannwhitney")
    assert(count(p, "\\(\\d+\\) Window") == 1, s"window count:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") == 1, s"sort count:\n$p")
  }

  test("q_spearman's four rank windows and the closing aggregation " +
    "share one key exchange") {
    val p = plan("q_spearman")
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
    assert(count(p, "\\(\\d+\\) Window") == 5, s"window count:\n$p")
  }

  test("q_hamming_topk screens with bounded aggregation — no window " +
    "over the query × corpus fan-out, queries broadcast") {
    val p = plan("q_hamming_topk")
    assert(count(p, "\\(\\d+\\) Window") == 0, s"no window allowed:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded screen missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildLeft"),
      s"query side must broadcast into the scan:\n$p")
  }

  test("sketch state builds aggregate partially before their exchanges " +
    "(theta and KLL)") {
    for (q <- Seq("q_theta_overlap", "q_quantile_state")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"), s"$q:\n$p")
      // every sketch exchange ships merged partials, not raw rows:
      // each Exchange pairs with a partial ObjectHashAggregate below it
      assert(count(p, "partial_") >= 1, s"$q must combine map-side:\n$p")
    }
  }

  test("q_ewma is one key exchange, one in-partition sort, one pass") {
    val p = plan("q_ewma")
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") == 1, s"sort count:\n$p")
    assert(p.contains("MapPartitions"), s"sequential pass missing:\n$p")
  }

  test("q_setops plans INTERSECT/EXCEPT as distinct semi/anti joins") {
    val p = plan("q_setops")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"set ops must lower to hash joins:\n$p")
    assert(!p.contains("NestedLoop"), s"no per-row probe allowed:\n$p")
  }

  test("q_having_semi runs the HAVING aggregate once and joins upward") {
    val p = plan("q_having_semi")
    // one grouped aggregate pair (partial+final) over lineitem only
    assert(count(p, "\\(\\d+\\) HashAggregate") == 2, s"aggregates:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Subquery:"),
      s"plain join tree expected:\n$p")
  }

  test("q_domain_stats blocklist is a broadcast anti-join, not a shuffle") {
    val p = plan("q_domain_stats")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"deny list must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle for the list:\n$p")
    // one shuffle total: the domain rollup
    assert(count(p, "hashpartitioning") == 1, s"exchanges:\n$p")
  }

  test("q_zorder is a pure projection — no keyed exchange") {
    // the only Exchange allowed is the loader's round-robin parallelize;
    // the z-value itself must never force a hash/range repartition
    val p = plan("q_zorder")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"z-value must not shuffle on a key:\n$p")
    assert(count(p, "RoundRobinPartitioning") <= 1,
      s"only the loader exchange:\n$p")
  }

  test("q_char_entropy combines chars map-side and reuses the doc exchange") {
    val p = plan("q_char_entropy")
    // the raw per-char explode must be collapsed BEFORE its exchange
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
    // (doc,char) agg + doc window = exactly two keyed exchanges; the
    // closing per-doc aggregate must reuse the window's partitioning
    assert(count(p, "hashpartitioning") == 2, s"exchanges:\n$p")
  }

  test("q_join_estimate never runs the full join") {
    val p = plan("q_join_estimate")
    // sampled-key side: two grouped counts + one join on the key table;
    // the only nested-loop is the one-row scalar cross of est × truth
    assert(count(p, "\\(\\d+\\) CartesianProduct") +
      count(p, "\\(\\d+\\) BroadcastNestedLoopJoin") <= 1,
      s"only the scalar cross join allowed:\n$p")
    assert(p.contains("partial_count"), s"sampled counts must combine map-side:\n$p")
  }

  test("q_url_parse stays in one projection over a pruned scan") {
    val p = plan("q_url_parse")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"parse family must not shuffle on a key:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string"),
      s"scan must prune to (doc_id, source):\n$p")
  }

  test("q_mor_delete applies deletes as an equi-anti-join, never a loop") {
    // the MOR read condition is (keys null-safe-equal AND _v < _dv):
    // Spark must use the key equality as the join key with the version
    // inequality as a residual — a nested loop here would scan
    // |corpus| x |deletes| at 100 TB
    val p = plan("q_mor_delete")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"delete anti-join degenerated to a loop:\n$p")
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
  }

  test("q_countmin broadcasts the bounded sketch state to the probes") {
    val p = plan("q_countmin")
    // the state is <= depth x width rows by construction: probing must
    // be a broadcast join, never a shuffle of the probe side onto
    // (seed, bucket)
    assert(p.contains("BroadcastHashJoin"), s"state must broadcast:\n$p")
  }

  test("q_cuped scans events once — the moment table is retained for both consumers") {
    // the per-variant moment table feeds the pooled aggregate AND the
    // final projection; the persist makes that one corpus scan (the
    // pooled row then rides the adjudicated one-row broadcast cross)
    val p = plan("q_cuped")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"CUPED re-scans the corpus ($scans scans):\n$p")
  }

  test("q_fd_check and q_key_check are scan + explode + aggregates, no join") {
    for (q <- Seq("q_fd_check", "q_key_check")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q must scan orders once, got $scans:\n$p")
    }
  }

  test("q_suppress_rare joins the bounded rare-class list by broadcast") {
    val p = plan("q_suppress_rare")
    assert(p.contains("BroadcastHashJoin"),
      s"rare list must broadcast, not shuffle the corpus:\n$p")
  }

  test("q_dp_counts noise attaches after the aggregate — one keyed exchange, no join") {
    val p = plan("q_dp_counts")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected the groupBy exchange only, got $keyed:\n$p")
    assert(!p.contains("Join"), s"noise must be expression-only:\n$p")
  }

  test("q_ridge_fit is one scan, one keyed exchange, no join") {
    // the whole fit is the moment aggregate + scalar math on its rows —
    // any join or second scan means the normal-equation shape regressed
    val p = plan("q_ridge_fit")
    assert(!p.contains("Join"), s"ridge fit must not join:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"ridge fit must scan lineitem once, got $scans:\n$p")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected the groupBy exchange only, got $keyed:\n$p")
  }

  test("q_conformal scans the corpus once and broadcasts the model rows") {
    // the split base is retained (train agg + cal + test all read it);
    // the per-key predictor and radius join in as broadcasts
    val p = plan("q_conformal")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"conformal degenerated:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"split base rebuilt per consumer ($scans scans):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"model/radius rows must broadcast:\n$p")
  }

  test("q_label_prop rounds are equi-joins, never a loop join") {
    val p = plan("q_label_prop")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"label propagation degenerated:\n$p")
  }

  test("q_cv_ridge does 5-fold CV in one scan, one keyed exchange, no join") {
    // the LOFO-by-subtraction trick: CV must not rescan or join rows —
    // everything after the moment groupBy operates on a 5-row frame
    val p = plan("q_cv_ridge")
    assert(!p.contains("Join"), s"CV must not join:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"CV must scan lineitem once, got $scans:\n$p")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1,
      s"expected only the fold groupBy exchange, got $keyed:\n$p")
  }

  test("q_auc collapses to score blocks before ranking — one scan, no join") {
    // the groupBy(key, score) collapse is the whole scale story: the
    // window runs over ≤50 distinct quantities per key, never rows
    val p = plan("q_auc")
    assert(!p.contains("Join"), s"AUC must not join:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"AUC must scan lineitem once, got $scans:\n$p")
  }

  test("q_thumb_stats and q_crop_stats are pure projections — no exchange at all") {
    // the vision kernels are per-row expressions: a KEYED exchange or a
    // join means the map-only contract regressed (the loader's
    // round-robin spread is the only exchange allowed)
    for (q <- Seq("q_thumb_stats", "q_crop_stats")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning") && !p.contains("Join"),
        s"$q must be map-only:\n$p")
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q must scan documents once, got $scans:\n$p")
    }
  }

  test("q_seasonal_decomp retains the windowed panel for both consumers") {
    val p = plan("q_seasonal_decomp")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"decomposition degenerated:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryRelation"),
      s"daily panel rebuilt per stage ($scans scans):\n$p")
  }

  test("q_modularity: only one-row scalar crosses, per-comm frame retained") {
    val p = plan("q_modularity")
    assert(!p.contains("CartesianProduct"), s"cartesian over data:\n$p")
    // exactly the two one-row broadcast crosses (m, global total)
    assert(count(p, "\\(\\d+\\) BroadcastNestedLoopJoin") <= 2,
      s"unexpected nested loop beyond the scalar crosses:\n$p")
    // perComm feeds the total AND the output — retention, not recompute
    assert(p.contains("InMemoryRelation"), s"per-community frame rebuilt:\n$p")
  }

  test("q_link_predict: distributed top-k, hash anti-join, no cross") {
    val p = plan("q_link_predict")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"link prediction degenerated to a cross product:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be distributed TakeOrdered, not a global sort:\n$p")
    assert(p.contains("LeftAnti"), s"existing-edge removal regressed:\n$p")
  }

  test("q_calibration: one corpus scan, bin exchange, one scalar cross") {
    val p = plan("q_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
      s"calibration must not join data frames:\n$p")
    assert(count(p, "\\(\\d+\\) BroadcastNestedLoopJoin") == 1,
      s"expected exactly the one-row ECE cross:\n$p")
    // per-bin frame retained: the ECE total must read the cache, not
    // rescan the corpus
    assert(p.contains("InMemoryRelation"), s"per-bin frame rebuilt:\n$p")
  }

  test("q_logrank: micro-unit terms over the per-time window, no cross") {
    // same contract as q_km_risk: the per-time table + running risk
    // window, never a cohort×times cross; the one nested loop is the
    // qTimeToConvert scalar-ref broadcast.
    val p = plan("q_logrank")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    val bnlj = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).length
    assert(bnlj == 1, s"expected only the scalar-ref join, got $bnlj:\n$p")
    assert(p.contains("Window"), s"running risk window missing:\n$p")
  }

  test("q_interval_subtract: tie-collapse + one shared sort, no join") {
    val p = plan("q_interval_subtract")
    assert(!p.contains("Join"), s"coverage sweep must not join:\n$p")
    // (key, ts) collapse + key-partitioned windows; the island aggregate
    // rides the key clustering (subset rule) — two keyed exchanges max
    assert(count(p, "hashpartitioning") <= 2,
      s"sweep should need at most two keyed exchanges:\n$p")
    assert(count(p, "\\(\\d+\\) Sort") <= 1,
      s"all sweep windows must share one sort:\n$p")
  }

  test("q_bh_adjust windows over the tests table from one scan, no join") {
    val p = plan("q_bh_adjust")
    assert(!p.contains("Join"), s"BH correction must not join:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"BH must scan part once, got $scans:\n$p")
  }

  test("q_confusion fuses brier + confusion into one scan, no join") {
    val p = plan("q_confusion")
    assert(!p.contains("Join"), s"fused eval must not join:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"fused eval must scan lineitem once, got $scans:\n$p")
  }

  test("q_cum_hazard: risk windows over the per-time aggregate, no cross") {
    val p = plan("q_cum_hazard")
    assert(!p.contains("CartesianProduct"), s"cross join in plan:\n$p")
    // the labels derivation legitimately scans events 4x (events, first
    // view, conversion, ref-time — the q_km_risk baseline); the pin is
    // that the hazard cumsum adds NO scan of its own
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 4, s"expected <= 4 events scans, got $scans:\n$p")
  }

  test("q_streaks: the window sorts the distinct-day grid, no join") {
    val p = plan("q_streaks")
    assert(!p.contains("Join"), s"streaks must not join:\n$p")
  }

  test("q_kappa re-aggregates the retained cell table — one scan") {
    val p = plan("q_kappa")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"q_kappa must scan lineitem once, got $scans:\n$p")
  }

  test("q_cramers_v finishes driver-side from the collected cells") {
    // the one corpus scan runs inside the bounded collect; the returned
    // frame is a local one-row table, no distributed tail at all
    val p = plan("q_cramers_v")
    assert(p.contains("LocalTableScan") && !p.contains("Scan parquet"),
      s"expected a local one-row result:\n$p")
  }

  test("q_mcnemar and q_mantel_haenszel are one aggregate pass each") {
    Seq("q_mcnemar").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q single scan, got $scans:\n$p")
    }
    // mantel-haenszel joins orders once for its strata, nothing else
    val p = plan("q_mantel_haenszel")
    val joins = "Join".r.findAllIn(p).length
    assert(p.contains("Join") && joins <= 4, s"one strata join only:\n$p")
  }

  test("q_avg_precision windows <= k rows per query after the rank filter") {
    val p = plan("q_avg_precision")
    assert(!p.contains("CartesianProduct"), s"no cross in AP:\n$p")
    // rank <= k is applied BEFORE the running-hit window (filter under
    // the second Window operator in the plan)
    assert(p.contains("Window"), p)
  }

  test("q_point_in_poly filters at the scan — no keyed exchange, no join") {
    val p = plan("q_point_in_poly")
    // the loader's round-robin repartition is the only exchange allowed;
    // the geofence itself must never hash-partition or join
    assert(!p.contains("Exchange hashpartitioning"),
      s"geofence must not shuffle on a key:\n$p")
    assert(!p.contains("Join"), s"geofence must not join:\n$p")
  }

  test("q_fixed_width parse plan has no shuffle and no UDF") {
    val p = plan("q_fixed_width")
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython"),
      s"fixed-width parse must stay map-side:\n$p")
  }

  test("q_grouping_sets is one Expand + one aggregate over the join") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must Expand:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"lineitem + orders, got $scans:\n$p")
  }

  test("q_fleiss_kappa consumers read the retained subject frames") {
    val p = plan("q_fleiss_kappa")
    // cnt and perSubject are CacheScope-retained: their multiple
    // consumers must hit the cache, not re-derive from the corpus
    assert(p.contains("InMemoryTableScan"),
      s"fleiss frames must be cache-served:\n$p")
  }

  test("q_hits: scalar maxes broadcast; score joins never loop") {
    val p = plan("q_hits")
    assert(!p.contains("CartesianProduct"), s"no cartesian in HITS:\n$p")
  }

  test("q_kruskal: one scan, no join, both rank windows share one " +
      "day exchange") {
    val p = plan("q_kruskal")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one events scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"no join in kruskal:\n$p")
    // the (day,value) window piggybacks on the day partitioning: the
    // only keyed exchanges are the count-agg and the day repartition
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 2, s"two keyed exchanges, got $keyed:\n$p")
  }

  test("q_brown_forsythe broadcasts the group-median table back") {
    val p = plan("q_brown_forsythe")
    assert(p.contains("BroadcastHashJoin"),
      s"median join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_hampel: one scan, one keyed window exchange, no join") {
    val p = plan("q_hampel")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_seq_mine: lead chain is one window exchange, no self-join") {
    val p = plan("q_seq_mine")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_naive_bayes: one cached tokenization; vocabulary join is " +
      "never broadcast-forced") {
    val p = plan("q_naive_bayes")
    // the exploded token frame is CacheScope-retained and serves both
    // training counts and the scoring join
    assert(p.contains("InMemoryTableScan"),
      s"token frame must be cache-served:\n$p")
    assert(!p.contains("CartesianProduct"))
    // only the bounded sides carry broadcast hints: class totals, the
    // one-row vocab count, the one-row doc total, and the priors
    val analyzed = SparkEntry.queries("q_naive_bayes")(spark, dir)
      .queryExecution.analyzed.toString
    val hints = "(?m)ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 4, s"4 bounded broadcast hints, got $hints")
  }

  test("q_huber_irls: cent projection cached; each round reads the " +
      "cache, never the corpus") {
    val p = plan("q_huber_irls")
    assert(p.contains("InMemoryTableScan"), s"rows must be cached:\n$p")
    assert(!p.contains("CartesianProduct"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"one live scan at most, got $scans:\n$p")
  }

  test("q_cox: per-time risk table cached across Newton rounds") {
    val p = plan("q_cox")
    assert(p.contains("InMemoryTableScan"),
      s"risk table must be cache-served:\n$p")
    assert(!p.contains("CartesianProduct"))
    // cohort derivation reads events a bounded number of times inside
    // the cached per-time plan — ITERATIONS must not add scans (the
    // uncached form re-derived the cohort per round: 35 scans)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 8, s"iteration-independent scan count, got $scans")
  }

  test("q_stump and q_chow are single-scan aggregate plans") {
    Seq("q_stump", "q_chow").foreach { q =>
      val p = plan(q)
      // stump's per-value table is cache-served into both consumers
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans <= 1, s"$q: one scan at most, got $scans")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_anova, q_ad2, q_cum_incidence: no join on corpus-sized " +
      "frames, no cartesian") {
    Seq("q_anova", "q_ad2", "q_cum_incidence").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not SMJ:\n$p")
    }
  }

  test("q_gumbel is a single-scan two-aggregate plan") {
    val p = plan("q_gumbel")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_km_state: the state union stays a counter merge, no " +
      "cartesian, no corpus-sized join") {
    val p = plan("q_km_state")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"plan:\n$p")
  }

  test("q_logit_irls: grid cached once; crossed betas are one-row " +
      "broadcasts, never a cartesian") {
    val p = plan("q_logit_irls")
    assert(p.contains("InMemoryTableScan"),
      s"grid must be cache-served across iterations:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"grid derives from at most one live scan:\n$p")
  }

  test("q_jarque_bera and q_cohens_d are single-scan single-aggregate " +
      "plans (no join, no window)") {
    Seq("q_jarque_bera", "q_cohens_d").foreach { q =>
      val p = plan(q)
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans == 1 && !p.contains("Join"), s"$q:\n$p")
    }
  }

  test("q_mutual_info reduces one scan through bounded-cell windows, " +
      "no corpus-sized join") {
    val p = plan("q_mutual_info")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one documents scan expected, got $scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"plan:\n$p")
  }

  test("q_perm_test: the pair table is cache-served to T_obs and the " +
      "replicate explode; the scalar joins stay broadcasts") {
    val p = plan("q_perm_test")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"pair quantization must run once ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"one-row obs/extreme frames must broadcast:\n$p")
  }

  test("q_zipf tokenizes the corpus once; the rank window is " +
      "vocab-bounded, never a corpus sort") {
    val p = plan("q_zipf")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"vocab table must be cache-served ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_kneser_ney: bigram stream and model are cache-served; the " +
      "model joins are never cartesian") {
    val p = plan("q_kneser_ney")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"tokenize+model must run once ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_dbscan: the neighbor screen is an equi-join on cells — no " +
      "cartesian, no nested loop") {
    val p = plan("q_dbscan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_poisson_irls: grid cached once across Newton rounds, no " +
      "cartesian, at most one live scan") {
    val p = plan("q_poisson_irls")
    assert(p.contains("InMemoryTableScan"),
      s"grid must be cache-served across iterations:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"grid derives from at most one live scan:\n$p")
  }

  test("q_good_turing is a single-scan pipeline over bounded windows") {
    val p = plan("q_good_turing")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_periodogram is a single-scan double-aggregate — the period " +
      "explode never joins") {
    val p = plan("q_periodogram")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_closeness: the BFS closure reads checkpointed frames, no " +
      "cartesian anywhere") {
    val p = plan("q_closeness")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_grubbs and q_bartlett are single-scan aggregate pipelines") {
    Seq("q_grubbs", "q_bartlett").foreach { q =>
      val p = plan(q)
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(scans == 1 && !p.contains("Join"), s"$q:\n$p")
    }
  }

  test("q_linkage: the candidate-pair table is cache-served to weight " +
      "estimation and scoring; the weight frame broadcasts") {
    val p = plan("q_linkage")
    assert(p.contains("InMemoryTableScan"),
      s"pairs must derive once:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_er_pipeline: the output plan reads one customer scan plus " +
      "checkpointed cluster labels — no cartesian, no nested loop") {
    // the candidate/scoring stages run EAGERLY inside the CC fixpoint
    // (their cache lives and dies there); the final plan must be just
    // the keeper window over customer ⋈ checkpointed labels
    val p = plan("q_er_pipeline")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"one customer scan expected, got $scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_curriculum is a single-scan window layout — no join, no " +
      "global sort") {
    val p = plan("q_curriculum")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_betweenness: layer joins stay equi-joins on checkpointed " +
      "frames — no cartesian, no nested loop") {
    val p = plan("q_betweenness")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_sprt is one keyed window pass plus one aggregate — no join") {
    val p = plan("q_sprt")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_anova2: cell table cached once; margin one-row frames " +
      "broadcast back — no SMJ, at most one live scan") {
    val p = plan("q_anova2")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"cell table must be cache-served ($scans scans):\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_durbin_watson: the cent projection is cache-served to the " +
      "moment pass and the residual join; no cartesian") {
    val p = plan("q_durbin_watson")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"base must derive once ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_page_hinkley is one keyed window pass — single scan, no join") {
    val p = plan("q_page_hinkley")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1 && !p.contains("Join"), s"plan:\n$p")
  }

  test("q_isotonic: the bin table is cache-served to both pair sides " +
      "and the closing join — one corpus scan, no cartesian") {
    val p = plan("q_isotonic")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans <= 1 && p.contains("InMemoryTableScan"),
      s"bins must derive once ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_ivfpq_topk: the retained passes bound the reads — corpus, " +
      "queries, coarse book, codebook sample scan once each") {
    // the fragment-dedup that turns repeated reads into
    // InMemoryTableScans depends on the CacheManager's state — start
    // from a clean slate so the count is suite-order-independent
    spark.catalog.clearCache()
    val p = plan("q_ivfpq_topk")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    // four distinct bounded reads (corpus norm pass / filtered query
    // subset / 16-row coarse book / 4-row codebook sample); every
    // other consumer — assignment, encode, probes, LUTs, re-rank —
    // reads the caches
    assert(scans <= 4 && p.contains("InMemoryTableScan"),
      s"expected <=4 source reads, cache-served reuse ($scans scans):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"all joins are broadcast/bucket-sized here:\n$p")
  }
}
