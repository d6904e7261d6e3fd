package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival-analysis deliverables over (duration, event) label pairs —
  * the Kaplan-Meier risk table (subjects at risk / events / censorings
  * per distinct event time), computed WITHOUT the labels×times cross
  * join the naive formulation implies.
  *
  * Shape: one groupBy collapses the cohort to one row per distinct
  * duration (n_total / d / censored counts), then `n_at_risk(t)` — the
  * count of subjects with `duration >= t` — falls out of a single
  * descending running count over that aggregate, because the risk set
  * is descending-cumulative by construction. Cost is one shuffle on
  * duration plus one sort of the |distinct durations| table.
  *
  * SCALE CONTRACT — the ordered window runs un-partitioned over the
  * per-time aggregate, i.e. a SINGLE task sorting |distinct durations|
  * rows. That is small only when durations are genuinely discrete
  * (days, integer buckets). For CONTINUOUS or microsecond-resolution
  * durations |distinct| ≈ |cohort| and the single task becomes the
  * bottleneck: pass `durationBucket` to bin durations upstream of the
  * groupBy (t := floor(duration / bucket) · bucket), which bounds the
  * window's input by range/bucket regardless of cohort size — the same
  * pre-binning contract as `Stats.ksStatistic` and
  * `Discretize.labelEncode`. A risk table over unbinned continuous
  * durations is also statistically degenerate (every n_at_risk step is
  * 1), so the bin is what an analyst wants anyway.
  */
object Survival {

  /** Risk table: for each distinct (optionally binned) duration with at
    * least one event, `t`, `n_at_risk` (duration >= t), `d` (events at
    * t) and `censored_at_t`. `eventCol` must be 0/1. `durationBucket`
    * bins durations to `floor(d / bucket) * bucket` first — REQUIRED at
    * scale for continuous durations (see the class contract). */
  def riskTable(labels: DataFrame, durationCol: String,
      eventCol: String, durationBucket: Option[Double] = None): DataFrame =
    riskTableFromCounts(
      perTimeCounts(labels, durationCol, eventCol, durationBucket))

  /** MERGEABLE per-time counter state: (t, __n_total, d,
    * censored_at_t) — plain counter addition merges batches
    * ([[mergePerTimeCounts]]), so a continuously-ingested cohort keeps
    * its full survival machinery live on the
    * [[graft.streaming.StateStream]] sink (`survivalModel`) without
    * replaying label rows: [[riskTableFromCounts]] /
    * [[kaplanMeierFromCounts]] read the merged state. */
  def perTimeCounts(labels: DataFrame, durationCol: String,
      eventCol: String, durationBucket: Option[Double] = None)
      : DataFrame = {
    val t = durationBucket match {
      case Some(b) =>
        require(b > 0, s"durationBucket must be positive, got $b")
        floor(col(durationCol) / lit(b)) * lit(b)
      case None => col(durationCol)
    }
    labels
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(t.as("t")).agg(
        count(lit(1)).as("__n_total"),
        count_if(col(eventCol) === 1).as("d"),
        count_if(col(eventCol) === 0).as("censored_at_t"))
  }

  /** Merge accumulated [[perTimeCounts]] state rows: counter sums. */
  def mergePerTimeCounts(state: DataFrame): DataFrame =
    state.groupBy(col("t")).agg(
      sum(col("__n_total")).cast("long").as("__n_total"),
      sum(col("d")).cast("long").as("d"),
      sum(col("censored_at_t")).cast("long").as("censored_at_t"))

  /** Risk table over an (already merged) per-time counter state. */
  def riskTableFromCounts(perTime: DataFrame): DataFrame = {
    // risk set = reverse running count over the per-time aggregate; the
    // global (un-partitioned) window is deliberate — its input is one
    // row per distinct duration, already reduced by the groupBy above.
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTime
      .withColumn("n_at_risk", sum(col("__n_total")).over(w))
      .filter(col("d") > 0)
      .select(col("t"), col("n_at_risk"), col("d"), col("censored_at_t"))
  }

  /** Aalen-Johansen cumulative incidence for TWO COMPETING RISKS
    * (Aalen & Johansen 1978): when two absorbing outcomes race (first
    * purchase vs first abandonment; dedup-merged vs quarantined), the
    * naive per-cause 1−KM overstates both probabilities — the correct
    * per-cause curve is CIF_k(t) = Σ_{tᵢ≤t} S(tᵢ⁻)·d_k(tᵢ)/n(tᵢ),
    * with S the ALL-CAUSE survival. `causeCol`: 0 = censored, 1, 2.
    *
    * Engine-exactness is the [[kaplanMeier]] log-space discipline
    * extended one step: the all-cause ln((n−d)/n) terms waypoint
    * through DECIMAL(20,12) and sum in an EXCLUSIVE window (S at t⁻),
    * S(t⁻) re-enters through the exp waypoint, each cause's increment
    * S(t⁻)·d_k/n quantizes to DECIMAL(20,12), and both CIF curves are
    * order-independent decimal window sums. After a time with d = n
    * the risk set is exhausted: S(t⁻) pins to 0 from the NEXT event
    * time on (the KM `zeroed` latch), so later increments are exact
    * zeros rather than ln(0) artifacts.
    *
    * Same distinct-duration window contract as [[riskTable]] (bin
    * continuous durations). Output per event time: t, n_at_risk, d1,
    * d2, cif1, cif2. */
  def cumulativeIncidence(labels: DataFrame, durationCol: String,
      causeCol: String, durationBucket: Option[Double] = None)
      : DataFrame = {
    val t = durationBucket match {
      case Some(b) =>
        require(b > 0, s"durationBucket must be positive, got $b")
        floor(col(durationCol) / lit(b)) * lit(b)
      case None => col(durationCol)
    }
    val perTime = labels
      .filter(col(durationCol).isNotNull && col(causeCol).isNotNull)
      .groupBy(t.as("t")).agg(
        count(lit(1)).as("__n_total"),
        count_if(col(causeCol) === 1).as("d1"),
        count_if(col(causeCol) === 2).as("d2"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = perTime
      .withColumn("n_at_risk", sum(col("__n_total")).over(wRisk))
      .withColumn("d", col("d1") + col("d2"))
      .filter(col("d") > 0)
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("n_at_risk").cast("double")
    val withLog = risk
      .withColumn("__logterm",
        when(col("n_at_risk") > col("d"),
          log((col("n_at_risk") - col("d")).cast("double") / nD)
            .cast("decimal(20,12)")))
      .withColumn("__z",
        when(col("d") >= col("n_at_risk"), lit(1)).otherwise(lit(0)))
    val withS = withLog
      .withColumn("__zprev",
        coalesce(max(col("__z")).over(wPrev), lit(0)))
      .withColumn("__logprev",
        coalesce(sum(col("__logterm")).over(wPrev),
          lit(0).cast("decimal(20,12)")))
      .withColumn("__sprev",
        when(col("__zprev") === 1, lit(0.0))
          .otherwise(
            exp(col("__logprev").cast("double")).cast("decimal(20,12)")
              .cast("double")))
    val inc = (dk: String) =>
      (col("__sprev") * (col(dk).cast("double") / nD))
        .cast("decimal(20,12)")
    withS
      .withColumn("__i1", inc("d1"))
      .withColumn("__i2", inc("d2"))
      .withColumn("cif1",
        sum(col("__i1")).over(wCum).cast("double"))
      .withColumn("cif2",
        sum(col("__i2")).over(wCum).cast("double"))
      .select(col("t"), col("n_at_risk"), col("d1").cast("long").as("d1"),
        col("d2").cast("long").as("d2"), col("cif1"), col("cif2"))
  }

  /** Cox proportional-hazards fit for ONE BINARY covariate (Cox 1972;
    * Breslow tie handling over bucketed durations): the hazard-ratio
    * question — "does group x = 1 convert/churn FASTER, adjusting for
    * the shared time profile?" — answered by Newton iterations on the
    * partial likelihood. The regression companion of [[logRank]]
    * (whose statistic is exactly this model's score test at β = 0):
    * log-rank says WHETHER the groups differ, Cox says BY HOW MUCH
    * (hazard ratio e^β) with a standard error.
    *
    * With a binary covariate the risk-set sums collapse to INTEGER
    * at-risk counts (n₁(t), n₀(t) — suffix sums over the per-time
    * aggregate), so each Newton round needs exactly ONE libm call,
    * exp(β), which quantizes through floor(e^β·1e12)/1e12; every
    * per-event-time score/information term then quantizes via
    * floor(·1e9) (pure IEEE on identical doubles — the
    * [[graft.operators.LinearModel.logisticIrlsGrid]] discipline), the
    * cross-time reductions are exact integer sums, and the update
    * β' = β + U/I is fixed-shape. A DuckDB oracle replays the unrolled
    * rounds bit-for-bit.
    *
    * Scale shape: one corpus pass to the per-time counts, two suffix
    * windows over the distinct-duration table (bin continuous
    * durations — the [[riskTable]] contract), then `iters` rounds over
    * that SMALL cached table; the corpus is never rescanned. Output
    * one row: n, d, d1, beta, hr (= quantized e^β), se (1/√I at the
    * final β); null fit when the information is 0 (x constant or no
    * mixed-risk event time). */
  def coxBinary(labels: DataFrame, durationCol: String,
      eventCol: String, xCol: String, iters: Int = 3,
      durationBucket: Option[Double] = None,
      scope: graft.core.CacheScope = graft.core.CacheScope.session)
      : DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters in [1,8], got $iters")
    val spark = labels.sparkSession
    val t = durationBucket match {
      case Some(b) =>
        require(b > 0, s"durationBucket must be positive, got $b")
        floor(col(durationCol) / lit(b)) * lit(b)
      case None => col(durationCol)
    }
    // the per-time table feeds BOTH the risk suffix windows and the
    // totals row, and every Newton round reads them — retained, so the
    // corpus-side cohort derivation runs once (the PlanSpec pin caught
    // the uncached form re-deriving it per round: 35 scans)
    val perTime = scope.retain(labels
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(xCol).isNotNull)
      .groupBy(t.as("t")).agg(
        count(lit(1)).as("n"),
        count_if(col(xCol) === 1).as("n1"),
        count_if(col(eventCol) === 1).as("d"),
        count_if(col(eventCol) === 1 && col(xCol) === 1).as("d1")))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = scope.retain(perTime
      .withColumn("rn", sum(col("n")).over(w))
      .withColumn("rn1", sum(col("n1")).over(w))
      .filter(col("d") > 0)
      .select(col("t"), col("d"), col("rn"), col("rn1")))
    val totals = perTime.agg(
      sum(col("n")).cast("long").as("n"),
      sum(col("d")).cast("long").as("d"),
      sum(col("d1")).cast("long").as("d1"))
    var beta = spark.range(1).select(lit(0.0).as("beta"))
    def round(b: DataFrame): DataFrame = {
      val it = risk.crossJoin(broadcast(b))
      val eb = floor(exp(col("beta")) * lit(1.0e12)) / lit(1.0e12)
      val r = eb * col("rn1").cast("double") /
        ((col("rn") - col("rn1")).cast("double") +
          eb * col("rn1").cast("double"))
      it.withColumn("__r", r)
        .select(col("beta"),
          floor(col("d").cast("double") * col("__r") * lit(1.0e9))
            .as("__u"),
          floor(col("d").cast("double") *
            (col("__r") - col("__r") * col("__r")) * lit(1.0e9))
            .as("__i"))
        .groupBy(col("beta"))
        .agg(sum(col("__u")).as("su"), sum(col("__i")).as("si"))
    }
    for (_ <- 1 to iters) {
      val agg = round(beta).crossJoin(broadcast(totals))
      val uD = (col("d1").cast("double") * lit(1.0e9) -
        col("su").cast("double")) / lit(1.0e9)
      val iD = col("si").cast("double") / lit(1.0e9)
      beta = agg.select(
        when(iD > 0.0, col("beta") + uD / iD).as("beta"))
    }
    val fin = round(beta).crossJoin(broadcast(totals))
    val iD = col("si").cast("double") / lit(1.0e9)
    fin.select(col("n"), col("d"), col("d1"), col("beta"),
      (floor(exp(col("beta")) * lit(1.0e12)) / lit(1.0e12)).as("hr"),
      when(iD > 0.0, lit(1.0) / sqrt(iD)).as("se"))
  }

  /** Nelson–Aalen cumulative-hazard table (Nelson 1972, Aalen 1978):
    * the risk table extended with the per-time hazard increment
    * `h(t) = d/n_at_risk` and its running sum `H(t) = Σ_{s<=t} h(s)` —
    * the estimator survival tooling plots when the KM product is too
    * noisy, and the additive form that distributes cleanly.
    *
    * ENGINE-EXACT arithmetic: each increment is one integral division
    * in MICRO units (`(1e6·d) div n_at_risk`, DECIMAL-widened so the
    * product never overflows), and the cumulative sum is an INTEGER
    * window sum — order-independent, so the whole table is exact and
    * hash-comparable. (The KM survival curve itself is a sequential
    * PRODUCT of rationals — order-dependent in floats and not
    * decimal-representable — which is why the additive Nelson–Aalen
    * form is the engine deliverable; S(t) ≈ exp(−H(t)) client-side.)
    *
    * Same single-task-window contract as [[riskTable]]: the two global
    * windows run over the per-time AGGREGATE (one row per distinct
    * duration); bin continuous durations with `durationBucket`.
    * Output: t, n_at_risk, d, h_micro, cum_hazard_micro. */
  def cumulativeHazard(labels: DataFrame, durationCol: String,
      eventCol: String, durationBucket: Option[Double] = None): DataFrame = {
    val rt = riskTable(labels, durationCol, eventCol, durationBucket)
    val wAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rt.withColumn("h_micro",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * d) div n_at_risk" +
          " AS BIGINT)"))
      .withColumn("cum_hazard_micro", sum(col("h_micro")).over(wAsc))
      .select(col("t"), col("n_at_risk"), col("d"), col("h_micro"),
        col("cum_hazard_micro"))
  }

  /** Kaplan–Meier product-limit survival curve (Kaplan & Meier 1958):
    * S(t) = ∏_{s<=t} (1 − d_s/n_s) over the [[riskTable]] — the curve
    * itself, completing the survival family next to the additive
    * [[cumulativeHazard]].
    *
    * ENGINE-EXACT via the PSI/js_div libm-waypoint idiom: the float
    * product is order-DEPENDENT, but its log is a sum — each per-time
    * term ln((n−d)/n) is one correctly-rounded IEEE division followed
    * by one libm ln ROUNDED THROUGH DECIMAL(20,12) (the waypoint both
    * engines agree on), the cumulative log-survival is an
    * order-independent DECIMAL window sum, and S(t) is one final
    * exp(double) — itself waypointed through DECIMAL(20,12) so the
    * last libm call cannot diverge across engines either. A time where
    * d = n_at_risk drives S to exactly 0 (ln(0) is gated, not summed;
    * a running flag zeroes every later step, per the definition).
    *
    * Same single-task-window / `durationBucket` contract as
    * [[riskTable]]. Output: t, n_at_risk, d, censored_at_t,
    * log_s (cumulative log-survival, double), s (survival after t). */
  def kaplanMeier(labels: DataFrame, durationCol: String,
      eventCol: String, durationBucket: Option[Double] = None): DataFrame =
    kaplanMeierFromRisk(
      riskTable(labels, durationCol, eventCol, durationBucket))

  /** KM over a merged [[perTimeCounts]] state — the live-curve path:
    * identical bits to [[kaplanMeier]] over the same label multiset,
    * because counter addition commutes with the per-time aggregation
    * (spec-pinned batch-split equivalence). */
  def kaplanMeierFromCounts(perTime: DataFrame): DataFrame =
    kaplanMeierFromRisk(riskTableFromCounts(perTime))

  private def kaplanMeierFromRisk(rt: DataFrame): DataFrame = {
    val wAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rt
      .withColumn("__term",
        when(col("n_at_risk") > col("d"),
          log((col("n_at_risk") - col("d")).cast("double") /
            col("n_at_risk").cast("double")).cast("decimal(20,12)")))
      .withColumn("__zeroed",
        max(when(col("d") >= col("n_at_risk"), 1).otherwise(0)).over(wAsc))
      .withColumn("__logs", sum(col("__term")).over(wAsc))
      .select(col("t"), col("n_at_risk"), col("d"), col("censored_at_t"),
        when(col("__zeroed") === 1, lit(null).cast("double"))
          .otherwise(col("__logs").cast("double")).as("log_s"),
        when(col("__zeroed") === 1, lit(0.0))
          .otherwise(expr("CAST(CAST(exp(CAST(__logs AS DOUBLE)) " +
            "AS DECIMAL(20,12)) AS DOUBLE)")).as("s"))
  }

  /** Restricted mean survival time (RMST): ∫₀^τ S(t) dt over the
    * [[kaplanMeier]] step function — "average event-free time over the
    * first τ units", the standard effect size when median survival is
    * undefined. Exact given the KM steps: each rectangle is
    * S(t_i) · (min(t_{i+1}, τ) − t_i) with S = 1 on [0, t_first) —
    * every product is one double multiply of a waypointed S by an
    * exact width, ROUNDED THROUGH DECIMAL(30,6) so the final sum is
    * order-independent; τ must be ≥ 0. One-row output: horizon, rmst. */
  def rmst(km: DataFrame, horizon: Double): DataFrame = {
    require(horizon > 0, s"horizon must be > 0, got $horizon")
    val wAsc = Window.orderBy(col("t").asc)
    val steps = km
      .withColumn("__next",
        coalesce(lead(col("t"), 1).over(wAsc), lit(horizon)))
    // rectangles: [0, t_1) at S=1 (the lag-coalesce on the FIRST row),
    // then [t_i, t_{i+1}) at S(t_i); clamp every edge to [0, τ]
    val first = steps
      .withColumn("__area",
        (greatest(least(col("__next"), lit(horizon)), col("t")) - col("t"))
          .cast("double") * col("s"))
      .withColumn("__head",
        when(row_number().over(wAsc) === 1,
          least(col("t"), lit(horizon)).cast("double") * lit(1.0))
          .otherwise(lit(0.0)))
    first.agg(
        sum((col("__area") + col("__head")).cast("decimal(30,6)"))
          .as("__r"))
      .select(lit(horizon).as("horizon"),
        col("__r").cast("double").as("rmst"))
  }

  /** Two-sample log-rank test (Mantel 1966): does cohort `groupA`'s
    * survival differ from `groupB`'s? The standard readout over
    * experiment arms ("did the retention intervention delay churn?").
    *
    * Per distinct (binned) event time: observed events in A (`dA`),
    * expected under the null `E = d·nA/N`, hypergeometric variance
    * `V = d·nA·nB·(N−d) / (N²(N−1))`; the statistic is
    * `(ΣdA − ΣE)² / ΣV` (χ², 1 df).
    *
    * ENGINE-EXACT arithmetic: E and V accumulate in integer MICRO units
    * — each term is one integral division of exact products (the
    * products widen through DECIMAL(38,0) / HUGEINT, exact for cohorts
    * to ~1e8 subjects; the micro sums fit a long to ~1e12 events), so
    * the sums are order-independent and the χ² is one fixed-shape
    * double expression. The same `durationBucket` / single-task-window
    * contract as [[riskTable]] applies (bin continuous durations).
    *
    * Output (one row): n_a, n_b (cohort sizes), o_a, o_b (observed
    * events), e_a_micro (ΣE in micro units), v_micro (ΣV in micro
    * units), chi2 (null when ΣV = 0 — degenerate cohort). */
  def logRank(labels: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, groupA: String, groupB: String,
      durationBucket: Option[Double] = None): DataFrame = {
    val t = durationBucket match {
      case Some(b) =>
        require(b > 0, s"durationBucket must be positive, got $b")
        floor(col(durationCol) / lit(b)) * lit(b)
      case None => col(durationCol)
    }
    val perTime = labels
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(t.as("t")).agg(
        count_if(col(groupCol) === groupA).as("na_tot"),
        count_if(col(groupCol) === groupB).as("nb_tot"),
        count_if(col(groupCol) === groupA && col(eventCol) === 1).as("da"),
        count_if(col(groupCol) === groupB && col(eventCol) === 1).as("db"))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = perTime
      .withColumn("na", sum(col("na_tot")).over(w))
      .withColumn("nb", sum(col("nb_tot")).over(w))
      .withColumn("n", col("na") + col("nb"))
      .withColumn("d", col("da") + col("db"))
      // per-time micro terms: integral division of DECIMAL-widened
      // products (zero when d = 0 — the d factor — so no gating)
      .withColumn("e_micro",
        expr("(CAST(1000000 AS DECIMAL(38,0)) * d * na) div n"))
      .withColumn("v_micro",
        when(col("n") > 1,
          expr("""(CAST(1000000 AS DECIMAL(38,0)) * d * na * nb * (n - d))
                  div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))"""))
          .otherwise(lit(0L)))
    risk.agg(
        sum(col("na_tot")).as("n_a"), sum(col("nb_tot")).as("n_b"),
        sum(col("da")).as("o_a"), sum(col("db")).as("o_b"),
        sum(col("e_micro")).as("e_a_micro"),
        sum(col("v_micro")).as("v_micro"))
      .withColumn("chi2", {
        val num = (lit(1000000L) * col("o_a") - col("e_a_micro"))
          .cast("double")
        when(col("v_micro") > 0,
          num * num / (lit(1000000.0) * col("v_micro").cast("double")))
      })
  }
}
