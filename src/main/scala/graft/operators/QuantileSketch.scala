package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable quantile-sketch state tables (DataSketches KLL) — the
  * rank/percentile member of the incremental-state family beside
  * [[SketchState]] (distinct counts) and [[HeavyHitters]] (frequent
  * items): quantiles are not algebraic, so `IncrementalAgg`'s
  * sum/count partials cannot answer "p99 latency per service per day"
  * over continuously ingested data without re-scanning history. A
  * per-(key, period) KLL sketch persisted at ingest time can — KLL
  * merge is associative and lossless in guarantees, so batch-built
  * state unions into exactly the error envelope a full rebuild has.
  *
  * Exactness regime (the HLL treatment): a KLL sketch that has never
  * compacted — fewer updates than its capacity (k = 200 holds ≥ 200
  * items) — retains EVERY item, so quantile queries are exact order
  * statistics and deterministic; that is the regime the driver oracle
  * checks. Past capacity, compaction engages the library's internal
  * randomness: results are approximate within the published ~1.65/k^0.86
  * rank error but NOT bit-reproducible across runs — the spec gates
  * that regime by rank-error bound instead of equality (the one sketch
  * in this library whose scale regime is bounded, not replayed).
  *
  * Like [[SketchState]], every step is one of Spark's built-in
  * DataSketches expressions (`kll_sketch_agg_double`,
  * `kll_merge_agg_double`, `kll_sketch_get_quantile_double`); sketches
  * written by the DataSketches library directly read the same way.
  */
object QuantileSketch {

  /** Build (or rebuild for one ingest batch) the state: one row per key
    * tuple with a binary KLL `qsketch` over `valueCol` (nulls skipped). */
  def build(df: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Int = 200): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double"), k)
        .as("qsketch"))

  /** Fold a batch's state into stored state: same keys merge by sketch
    * union, new keys pass through — key-sized shuffle of binaries. */
  def merge(stored: DataFrame, batch: DataFrame, keyCols: Seq[String],
      k: Int = 200): DataFrame =
    stored.unionByName(batch)
      .groupBy(keyCols.map(col): _*)
      .agg(kll_merge_agg_double(col("qsketch"), k).as("qsketch"))

  /** Roll the state up to `groupCols` (⊆ build keys) and read quantiles:
    * (groupCols…, q, value) — one output row per group × quantile, by
    * INCLUSIVE search (the value at 1-based rank ⌈q·n⌉); NaN for every
    * q of a group whose sketch is empty (all its values were null). */
  def quantiles(state: DataFrame, groupCols: Seq[String], qs: Seq[Double],
      k: Int = 200): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantile ranks must be in (0, 1], got $qs")
    val (sketch, ranks) = (col("__qs"), array(qs.map(lit): _*))
    state.groupBy(groupCols.map(col): _*)
      .agg(kll_merge_agg_double(col("qsketch"), k).as("__qs"))
      .select(groupCols.map(col) :+
        posexplode(
          when(kll_sketch_get_n_double(sketch) === 0,
            array(qs.map(_ => lit(Double.NaN)): _*))
            .otherwise(kll_sketch_get_quantile_double(sketch, ranks)))
          .as(Seq("__pos", "value")): _*)
      .select(groupCols.map(col) ++ Seq(
        element_at(ranks, col("__pos") + 1).as("q"),
        col("value")): _*)
  }
}
