package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy auditing for release/training pipelines: k-anonymity
  * equivalence classes (Sweeney 2002), l-diversity homogeneity checks
  * (Machanavajjhala et al. 2007), and epsilon-DP noisy counts via the
  * Laplace mechanism (Dwork et al. 2006).
  *
  * Beyond-reference family: fastETL ships PII-bearing government tables
  * between databases (e.g. `fastetl/custom_functions/utils/` load
  * helpers move citizen records verbatim); before such a table — or a
  * 100 TB behavioral corpus — is released for analytics or training,
  * the releasing pipeline needs to MEASURE re-identification risk and,
  * where aggregates are published, add calibrated noise. These
  * operators are that audit stage, expressed as plain aggregations so
  * Catalyst keeps them one shuffle each.
  *
  * Scale shape: every entry point is a single groupBy over the quasi
  * columns — partial aggregation map-side, one keyed exchange, output
  * bounded by |distinct quasi tuples| (the whole point of
  * quasi-identifiers is that this is far below |rows|). The DP noise is
  * derived post-aggregation from an md5 of the group key itself, so it
  * adds zero shuffles and is reproducible across reruns and engines.
  *
  * Determinism caveat (documented contract): `dpCounts` draws its
  * Laplace noise from a seeded md5 — reproducible by design so releases
  * are auditable and the DuckDB oracle can replay them. The MECHANISM
  * (inverse-CDF Laplace at sensitivity 1) is the real thing; a
  * production release against an adaptive adversary should swap the
  * seed for fresh entropy per release.
  */
object Privacy {

  /** 2^48 — the md5-derived uniform uses 12 hex chars (48 bits), which a
    * DOUBLE holds exactly (53-bit mantissa); dividing by a power of two
    * only shifts the exponent, so `u` is bit-identical on any IEEE
    * engine. */
  val Pow2_48: Double = 281474976710656.0

  /** Per-equivalence-class sizes over the quasi-identifier columns:
    * one row per distinct quasi tuple with its population `k`. A class
    * with small k is a re-identification handle — anyone who knows a
    * target's quasi values can narrow them to k candidates. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String]): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("k"))

  /** One-row re-identification risk report: class count, row count,
    * the smallest class (the table's k-anonymity), and how many rows
    * sit in classes below `kMin`. `pct_at_risk` is one IEEE division of
    * two exactly-representable integers — bit-identical on any engine,
    * no decimal rounding step needed. */
  def riskReport(df: DataFrame, quasiCols: Seq[String], kMin: Long): DataFrame =
    kAnonymity(df, quasiCols)
      .agg(
        count(lit(1)).as("n_classes"),
        sum(col("k")).as("n_rows"),
        min(col("k")).as("min_k"),
        sum(when(col("k") < kMin, col("k")).otherwise(lit(0L)))
          .as("rows_at_risk"))
      .withColumn("pct_at_risk",
        (col("rows_at_risk") * lit(100L)).cast("double") /
          col("n_rows").cast("double"))

  /** l-diversity per quasi class: `l` = distinct sensitive values seen
    * in the class, alongside its size `k`. A class with l = 1 leaks the
    * sensitive value of every member even when k is large (homogeneity
    * attack) — `diverse` flags classes meeting the `lMin` bar. Exact
    * distinct is the two-phase partial/final aggregate; for corpora
    * where |sensitive| per class is itself huge, feed a bucketed
    * sensitive column (the attack model only cares about
    * distinguishable values). */
  def lDiversity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      lMin: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("k"),
        countDistinct(col(sensitiveCol)).as("l"))
      .withColumn("diverse", col("l") >= lit(lMin))

  /** t-closeness per quasi class (Li, Li & Venkatasubramanian, ICDE
    * 2007) — the third leg of the anonymity trio: a class can be
    * k-anonymous AND l-diverse yet still leak when its sensitive-value
    * DISTRIBUTION diverges from the table's (skewness attack). For a
    * categorical sensitive attribute the prescribed distance is
    * variational: t = ½·Σᵢ|p(i|class) − q(i)|.
    *
    * Computed EXACTLY in integers over a common denominator:
    * |n_ic·N − N_i·n_c| summed per class, then one fixed-point ppm
    * division by 2·n_c·N — no float distributions anywhere, so the
    * oracle replays it bit-for-bit. Shape at scale: one corpus groupBy
    * on (quasi…, sensitive); everything after operates on class×value
    * aggregate rows (global totals ride a broadcast one-row/|V|-row
    * join). Long products hold exactly for corpora under ~3·10⁹ rows
    * (n_ic·N < 2⁶³); beyond that pre-aggregate per shard or widen the
    * counts to DECIMAL (the [[graft.similarity.Centroids]] mass-bound
    * convention). Output per class: k (class size), t_ppm, `close` =
    * t_ppm <= tMaxPpm. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tMaxPpm: Long): DataFrame = {
    val cells = df
      .filter(col(sensitiveCol).isNotNull)
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).as("n_ic"))
    val classes = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("n_ic")).as("n_c"))
    val globals = cells.groupBy(col(sensitiveCol))
      .agg(sum(col("n_ic")).as("n_i"))
    val total = globals.agg(sum(col("n_i")).as("n_tot"))
    // the class × sensitive grid must include values ABSENT from a
    // class (they still contribute N_i·n_c to the distance): cross the
    // class list with the (broadcast, |V|-sized) global value list —
    // |V| is sensitive-value cardinality, small by the same bucketing
    // contract as lDiversity
    val grid = classes
      .crossJoin(broadcast(globals))
      .join(cells, quasiCols :+ sensitiveCol, "left")
      .na.fill(0L, Seq("n_ic"))
      .crossJoin(broadcast(total))
    grid
      .groupBy(quasiCols.map(col): _*)
      .agg(
        max(col("n_c")).as("k"),
        max(col("n_tot")).as("n_tot"),
        sum(abs(col("n_ic") * col("n_tot") - col("n_i") * col("n_c")))
          .as("num"))
      .withColumn("t_ppm", expr("(num * 1000000L) div (2L * k * n_tot)"))
      .withColumn("close", col("t_ppm") <= lit(tMaxPpm))
      .select(quasiCols.map(col) ++
        Seq(col("k"), col("t_ppm"), col("close")): _*)
  }

  /** Multidimensional generalization à la Mondrian (LeFevre, DeWitt &
    * Ramakrishnan, ICDE 2006) — the TRANSFORM next to the audit trio:
    * recursively partition the numeric quasi space and release each
    * row with its partition's [lo, hi] band per dimension, every
    * partition holding ≥ k rows.
    *
    * Deliberate divergence from the paper, documented: splits happen at
    * the MIDPOINT of the partition's widest normalized range, not the
    * median. A distributed exact median per partition would need a
    * per-partition sort (single-task at the root, where the partition
    * IS the corpus); the midpoint needs only min/max, so every round is
    * two aggregates + two broadcast joins and the round count is
    * bounded by log₂(range/resolution), independent of rows. A split is
    * accepted only when BOTH halves keep ≥ k rows (the strict variant);
    * rejected partitions are final. Deterministic: widest-range
    * dimension, first-index tie-break, pure arithmetic midpoint.
    *
    * Output: every input row + `pid` (partition id) + per-dimension
    * `<col>_lo` / `<col>_hi` bands. Rows with a NULL quasi value are
    * excluded (generalizing an unknown is undefined — route them
    * explicitly). Non-oracle by nature (data-dependent recursion);
    * spec-pinned: k floor, band validity, determinism, actual splits.
    */
  def mondrian(df: DataFrame, quasiCols: Seq[String], k: Long,
      maxRounds: Int = 48): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi column")
    require(k >= 1, s"need k >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 60, s"bad maxRounds=$maxRounds")
    // localCheckpoint per generation: the round loop would otherwise
    // grow the logical plan linearly (optimizer time compounds per
    // round). Stats loss doesn't matter here — every small side in the
    // loop carries an EXPLICIT broadcast hint.
    var work = df
      .filter(quasiCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("pid", lit(0L))
      .localCheckpoint()
    // global ranges normalize the widest-dimension choice so one
    // large-unit column doesn't monopolize the splits
    val g = work.agg(
      quasiCols.flatMap(c => Seq(min(col(c).cast("double")).as(s"lo_$c"),
        max(col(c).cast("double")).as(s"hi_$c"))).head,
      quasiCols.flatMap(c => Seq(min(col(c).cast("double")).as(s"lo_$c"),
        max(col(c).cast("double")).as(s"hi_$c"))).tail: _*).collect()(0)
    val span = quasiCols.map { c =>
      val s = g.getAs[Double](s"hi_$c") - g.getAs[Double](s"lo_$c")
      if (s > 0.0) s else 1.0
    }
    var round = 0
    var splitting = true
    // hand-rolled: each round's `accepted` scratch frame is released
    while (splitting && round < maxRounds) {
      val stats = work.groupBy(col("pid")).agg(
        count(lit(1)).as("n"),
        quasiCols.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"lo_$c"),
          max(col(c).cast("double")).as(s"hi_$c"))): _*)
      // widest normalized dimension + its midpoint, chosen in the plan
      val width = quasiCols.zipWithIndex.map { case (c, i) =>
        ((col(s"hi_$c") - col(s"lo_$c")) / lit(span(i))).as(s"w_$c") }
      val withW = stats.select(col("pid") +: col("n") +:
        quasiCols.flatMap(c => Seq(col(s"lo_$c"), col(s"hi_$c"))) ++:
        width: _*)
      val best = quasiCols.tail.zipWithIndex.foldLeft(
        (lit(0), col(s"w_${quasiCols.head}"))) {
        case ((bi, bw), (c, i)) =>
          val better = col(s"w_$c") > bw
          (when(better, lit(i + 1)).otherwise(bi),
            when(better, col(s"w_$c")).otherwise(bw))
      }
      val cand = withW
        .withColumn("dim", best._1)
        .withColumn("w", best._2)
        .filter(col("n") >= lit(2 * k) && col("w") > 0.0)
        .withColumn("mid", quasiCols.zipWithIndex.map { case (c, i) =>
          when(col("dim") === i,
            (col(s"lo_$c") + col(s"hi_$c")) / lit(2.0))
        }.reduce(coalesce(_, _)))
        .select(col("pid"), col("dim"), col("mid"))
      // verify both halves keep >= k before accepting
      val sideOf = quasiCols.zipWithIndex.map { case (c, i) =>
        when(col("dim") === i, (col(c).cast("double") <= col("mid"))
          .cast("int"))
      }.reduce(coalesce(_, _))
      val halves = work.join(broadcast(cand), Seq("pid"))
        .withColumn("side", sideOf)
        .groupBy(col("pid")).agg(
          sum(col("side")).as("n_left"),
          sum(lit(1L) - col("side")).as("n_right"))
        .filter(col("n_left") >= k && col("n_right") >= k)
        .select(col("pid"))
      val accepted = cand.join(broadcast(halves), Seq("pid"))
        .localCheckpoint() // tiny; eager so isEmpty + the join share it
      if (accepted.isEmpty) {
        graft.core.Fixpoint.releaseLocal(accepted)
        splitting = false
      } else {
        val next = work.join(broadcast(accepted), Seq("pid"), "left")
          .withColumn("pid",
            when(col("dim").isNull, col("pid"))
              .otherwise(col("pid") * 2L + lit(1L) + sideOf.cast("long")))
          .drop("dim", "mid")
          .localCheckpoint()
        graft.core.Fixpoint.releaseLocal(accepted)
        graft.core.Fixpoint.releaseLocal(work)
        work = next
        round += 1
      }
    }
    val bands = work.groupBy(col("pid")).agg(
      quasiCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"${c}_lo"),
        max(col(c).cast("double")).as(s"${c}_hi"))).head,
      quasiCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"${c}_lo"),
        max(col(c).cast("double")).as(s"${c}_hi"))).tail: _*)
    work.join(broadcast(bands), Seq("pid"))
  }

  /** Deterministic Laplace(1/epsilon) noise for a group key: inverse
    * CDF over a 48-bit md5 uniform. u in [0,1); X = -sign(u-1/2) *
    * ln(1-2|u-1/2|) / epsilon. The 1e-12 floor guards the measure-zero
    * u=0 edge (ln 0) identically on both engines. */
  def laplaceNoise(key: Column, epsilon: Double, seed: Long): Column = {
    val u = conv(substring(md5(concat(key, lit(s":dp:$seed"))), 1, 12),
      16, 10).cast("double") / lit(Pow2_48)
    val c = u - lit(0.5)
    -signum(c) * log(greatest(lit(1e-12), lit(1.0) - lit(2.0) * abs(c))) /
      lit(epsilon)
  }

  /** Epsilon-DP noisy histogram: per-group counts plus Laplace noise at
    * sensitivity 1 (one individual moves one count by one). The noise
    * attaches AFTER aggregation, keyed on the group value itself —
    * zero extra shuffles, reproducible per (group, seed). The noisy
    * count rounds through DECIMAL(28,6) so the reported double renders
    * identically across engines (ln differs at ulp level between libm
    * implementations — NOTES parity rule 4). */
  def dpCounts(df: DataFrame, groupCol: String, epsilon: Double,
      seed: Long): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("n_noisy",
        (col("n_true") + laplaceNoise(col(groupCol).cast("string"), epsilon,
          seed)).cast("decimal(28,6)").cast("double"))

  /** Epsilon-DP noisy SUM with per-record clipping — the counts→sums
    * completion of the DP family: each record's contribution clips to
    * [0, clip], bounding the sensitivity at `clip`, so the Laplace
    * scale is clip/epsilon (noise = clip × the unit-sensitivity draw).
    * Clipping is the analyst's bias/variance dial and a REQUIRED part
    * of the mechanism — an unbounded sum has unbounded sensitivity and
    * no finite noise privatizes it (Dwork & Roth 2014, §3.3).
    *
    * Clipped contributions round through DECIMAL(18,6) before the sum
    * (order-independent, engine-exact); the noisy sum reuses
    * [[laplaceNoise]]'s deterministic 48-bit md5 inverse-CDF draw and
    * rounds through DECIMAL(28,6) like [[dpCounts]]. One aggregation,
    * noise attached after it, zero extra shuffles. */
  def dpSum(df: DataFrame, groupCol: String, valueCol: String,
      clip: Double, epsilon: Double, seed: Long): DataFrame = {
    require(clip > 0, s"clip bound must be positive, got $clip")
    df.groupBy(col(groupCol))
      .agg(sum(least(greatest(col(valueCol).cast("double"), lit(0.0)),
          lit(clip)).cast("decimal(18,6)")).as("__sum"))
      .select(col(groupCol),
        col("__sum").cast("double").as("sum_clipped"))
      .withColumn("sum_noisy",
        (col("sum_clipped") + lit(clip) *
          laplaceNoise(col(groupCol).cast("string"), epsilon, seed))
          .cast("decimal(28,6)").cast("double"))
  }

  /** Keyed deterministic pseudonymization: replace `c` with a stable
    * surrogate token md5(secret ':' value) — the same value maps to the
    * same token under the same secret EVERYWHERE, so joins and
    * referential integrity survive tokenization across tables while
    * the raw identifier never leaves the pipeline. Map-side expression,
    * zero shuffles, composable per column.
    *
    * Threat model (document to callers): this is pseudonymization
    * (GDPR art. 4(5)) — reversible by whoever holds the secret via
    * re-derivation, and vulnerable to dictionary attack on low-entropy
    * values if the secret leaks. NULL stays NULL (a null identifier is
    * absence, not a value to protect). */
  def pseudonymize(df: DataFrame, c: String, secret: String): DataFrame =
    df.withColumn(c, md5(concat(lit(s"$secret:"), col(c).cast("string"))))

  /** Generalize rare quasi-identifier classes to reach k-anonymity:
    * rows whose full quasi tuple has population < kMin get every quasi
    * column replaced by `otherLabel` — coarse, monotone (suppressing
    * can only merge classes, never split), and sufficient whenever the
    * merged OTHER class itself reaches kMin (flagged in the output so
    * callers can iterate or drop the remainder).
    *
    * One aggregation on the quasi tuple + one broadcast-sized join of
    * the RARE class list back (bounded by kMin x classes, the small
    * side by construction). String quasi columns only — generalizing
    * numerics belongs to binning ([[Discretize]]) upstream. */
  def suppressRare(df: DataFrame, quasiCols: Seq[String], kMin: Long,
      otherLabel: String = "OTHER"): DataFrame = {
    quasiCols.foreach { c =>
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
        s"suppressRare quasi column '$c' must be string — bin numerics " +
          "upstream (Discretize) so generalization is meaningful")
    }
    val rare = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__k"))
      .filter(col("__k") < kMin)
      .select(quasiCols.map(c => col(c).as(s"__r_$c")): _*)
      .withColumn("__rare", lit(true))
    val joinCond = quasiCols.map(c => col(c) <=> col(s"__r_$c"))
      .reduce(_ && _)
    val joined = df.join(broadcast(rare), joinCond, "left")
    quasiCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        when(col("__rare"), lit(otherLabel)).otherwise(col(c)))
    }.drop((quasiCols.map(c => s"__r_$c") :+ "__rare"): _*)
  }
}
