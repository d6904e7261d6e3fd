package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Jensen-Shannon divergence of each group's token distribution against
  * the whole corpus — the bounded, symmetric drift score ([0, ln 2])
  * curation pipelines use to answer "which source/snapshot no longer
  * looks like the corpus?" (KL alone is unbounded and undefined on
  * unseen tokens; JS's mixture midpoint absorbs both).
  *
  * Relational shape: one tokenize pass → per-(group, term) and per-term
  * count tables, then a term-keyed join — the vocabulary is never
  * broadcast or collected, and the per-group output is group-sized.
  *
  * Exactness contract (the PMI treatment): probabilities are doubles
  * from exact integer counts via fixed-shape divisions, each term's JS
  * contribution `0.5·p·ln(p/m) + 0.5·q·ln(q/m)` is rounded into
  * DECIMAL(20,12) (ln is the one non-correctly-rounded op; the waypoint
  * hides last-ulp libm differences), and the per-group sum of decimals
  * is order-independent. Terms absent from a group contribute only
  * their q arm (the p·ln(p) → 0 limit), guarded explicitly so no
  * 0 · (−∞) NaN can leak in.
  */
object Divergence {

  /** (group, n_tokens, js_div) for every non-null group. */
  def jsAgainstCorpus(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val terms = docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(split(TextFunctions.normalize(col(textCol)), " "))
          .as("term"))
      .filter(col("term") =!= "")
    val perGroup = terms.groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("c_gt"))
    val perTerm = perGroup.groupBy(col("term"))
      .agg(sum(col("c_gt")).as("c_t"))
    val groupTotals = perGroup.groupBy(col("g"))
      .agg(sum(col("c_gt")).as("n_g"))
    val corpusTotal = perTerm.agg(sum(col("c_t")).as("n"))

    // every (group, corpus term) pair: the vocabulary-sized term table
    // stays partitioned; the group-sized totals broadcast onto it. The
    // LEFT join brings in the group's own counts (absent terms → null).
    val pairs = perTerm.crossJoin(broadcast(corpusTotal))
      .crossJoin(broadcast(groupTotals))
      .join(perGroup, Seq("g", "term"), "left")
    val p = col("c_gt").cast("double") / col("n_g").cast("double")
    val q = col("c_t").cast("double") / col("n").cast("double")
    val m = (p + q) / lit(2.0)
    // q > 0 always (the term exists in the corpus); p may be absent
    val contrib = when(col("c_gt").isNull,
        lit(0.5) * q * log(q / (q / lit(2.0))))
      .otherwise(lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m))
    pairs
      .select(col("g"), contrib.cast("decimal(20,12)").as("contrib"),
        col("n_g"))
      .groupBy(col("g"))
      .agg(max(col("n_g")).as("n_tokens"),
        sum(col("contrib")).cast("double").as("js_div"))
      .withColumnRenamed("g", groupCol)
  }

  /** Population Stability Index (the credit-scoring drift standard):
    * PSI = Σ_bins (pₐ − pₑ)·ln(pₐ/pₑ) between an ACTUAL and an
    * EXPECTED population over a shared pre-binned column — the
    * monitoring readout for "has this feature's distribution moved
    * since training?" (rule of thumb: < 0.1 stable, > 0.25 shifted).
    *
    * Bins with zero mass on either side get ADD-ONE smoothing
    * ((c+1)/(N+B)) — PSI is undefined on empty cells and the standard
    * practice is a floor; add-one is deterministic and engine-portable
    * (no ε literal to disagree on). Same exactness contract as
    * [[jsAgainstCorpus]]: probabilities are fixed-shape doubles from
    * integer counts, each bin's term is waypoint-rounded into
    * DECIMAL(20,12) (ln is libm), and the sum of decimals is
    * order-independent.
    *
    * Plan: one count aggregate per population, a bin-keyed full outer
    * join (bin-table-sized), broadcast scalar totals. Output one row:
    * n_actual, n_expected, n_bins, psi. */
  def psi(actual: DataFrame, expected: DataFrame,
      binCol: String): DataFrame =
    psiFromCounts(binCounts(actual, binCol), binCounts(expected, binCol))

  /** Row-level convenience for [[hellingerFromCounts]]. */
  def hellinger(actual: DataFrame, expected: DataFrame,
      binCol: String): DataFrame =
    hellingerFromCounts(binCounts(actual, binCol),
      binCounts(expected, binCol))

  /** Per-bin count state for [[psiFromCounts]] — MERGEABLE (counter
    * addition via [[mergeBinCounts]]), so a continuously-ingested
    * stream keeps a live drift readout on the
    * [[graft.streaming.StateStream]] sink (`binCountModel`; the
    * Calibration.binCounts pattern). */
  def binCounts(df: DataFrame, binCol: String): DataFrame = df
    .filter(col(binCol).isNotNull)
    .groupBy(col(binCol).as("__b")).agg(count(lit(1)).as("n"))

  /** Merge accumulated [[binCounts]] state rows: plain addition. */
  def mergeBinCounts(state: DataFrame): DataFrame =
    state.groupBy(col("__b")).agg(sum(col("n")).as("n"))

  /** PSI from pre-aggregated per-bin counts — the batch [[psi]] and the
    * streaming-state readout share this exact algebra. */
  def psiFromCounts(actualCounts: DataFrame,
      expectedCounts: DataFrame): DataFrame = {
    val joined = actualCounts.select(col("__b"), col("n").as("__ca"))
      .join(expectedCounts.select(col("__b"), col("n").as("__ce")),
        Seq("__b"), "full_outer")
      .na.fill(0L, Seq("__ca", "__ce"))
    val totals = joined.agg(sum(col("__ca")).as("__na"),
      sum(col("__ce")).as("__ne"), count(lit(1)).as("__nb"))
    val withT = joined.crossJoin(broadcast(totals))
    val pa = (col("__ca") + lit(1L)).cast("double") /
      (col("__na") + col("__nb")).cast("double")
    val pe = (col("__ce") + lit(1L)).cast("double") /
      (col("__ne") + col("__nb")).cast("double")
    withT
      .select(col("__na"), col("__ne"), col("__nb"),
        ((pa - pe) * log(pa / pe)).cast("decimal(20,12)").as("__t"))
      .groupBy(col("__na").as("n_actual"), col("__ne").as("n_expected"),
        col("__nb").as("n_bins"))
      .agg(sum(col("__t")).cast("double").as("psi"))
  }

  /** Hellinger distance between two binned distributions:
    * H = sqrt(1 − Σ √(p·q)) — the bounded-[0,1], symmetric,
    * triangle-inequality-obeying companion of [[psiFromCounts]] (PSI
    * is unbounded and blows up on empty bins; H is stable there).
    *
    * Determinism note: unlike exp/ln, IEEE-754 REQUIRES sqrt to be
    * correctly rounded, so per-bin √(p·q) is bit-identical across
    * engines with no libm caveat; each term still rounds through
    * DECIMAL(20,12) so the cross-bin sum is order-independent.
    * Same full-outer bin join + add-one smoothing as PSI (the
    * smoothing keeps the Bhattacharyya coefficient's Σ over the
    * union of observed bins a true probability mass). */
  def hellingerFromCounts(actualCounts: DataFrame,
      expectedCounts: DataFrame): DataFrame = {
    val joined = actualCounts.select(col("__b"), col("n").as("__ca"))
      .join(expectedCounts.select(col("__b"), col("n").as("__ce")),
        Seq("__b"), "full_outer")
      .na.fill(0L, Seq("__ca", "__ce"))
    val totals = joined.agg(sum(col("__ca")).as("__na"),
      sum(col("__ce")).as("__ne"), count(lit(1)).as("__nb"))
    val withT = joined.crossJoin(broadcast(totals))
    val pa = (col("__ca") + lit(1L)).cast("double") /
      (col("__na") + col("__nb")).cast("double")
    val pe = (col("__ce") + lit(1L)).cast("double") /
      (col("__ne") + col("__nb")).cast("double")
    withT
      .select(col("__na"), col("__ne"), col("__nb"),
        sqrt(pa * pe).cast("decimal(20,12)").as("__t"))
      .groupBy(col("__na").as("n_actual"), col("__ne").as("n_expected"),
        col("__nb").as("n_bins"))
      .agg(sqrt(greatest(lit(1.0) -
        sum(col("__t")).cast("double"), lit(0.0))).as("hellinger"))
  }
}
