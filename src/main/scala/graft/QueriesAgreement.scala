package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Stats

/** Round-11 query group: agreement, association, and robust estimation
  * — the rater/label-quality family (Cohen/Fleiss kappa, McNemar),
  * stratified and normalized association (Mantel-Haenszel, Cramér's V),
  * drift (PSI), and selection-exact robust statistics (Kendall tau-b,
  * Theil-Sen, trimmed mean). Split from QueriesStats along family
  * lines (the QueriesText-split hygiene precedent; zero behavior
  * change).
  */
object QueriesAgreement {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------------------ kappa
  // Cohen's kappa per linestatus: agreement between two binary
  // "raters" (deep-discount vs returned-line flags) — integer cell
  // counts end to end, fixed-shape double κ; the oracle replays the
  // identical margin-product algebra.
  private def kappaRated(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_linestatus"),
      when(col("l_discount") >= 0.05, "hi").otherwise("lo").as("rater_a"),
      when(col("l_returnflag") === "R", "hi").otherwise("lo").as("rater_b"))

  private val sqlKappaRated =
    """rated AS (
      |  SELECT l_linestatus,
      |    CASE WHEN l_discount >= 0.05 THEN 'hi' ELSE 'lo' END AS a,
      |    CASE WHEN l_returnflag = 'R' THEN 'hi' ELSE 'lo' END AS b
      |  FROM lineitem)""".stripMargin

  def qKappa(s: SparkSession, dir: String): DataFrame =
    Stats.cohenKappa(kappaRated(s, dir), "l_linestatus",
      "rater_a", "rater_b")

  val qKappaSql: String =
    s"""WITH $sqlKappaRated,
       |cells AS (SELECT l_linestatus AS k, a, b, count(*) AS c
       |  FROM rated GROUP BY 1, 2, 3),
       |base AS (SELECT k, CAST(sum(c) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
       |  FROM cells GROUP BY 1),
       |rt AS (SELECT k, a AS cat, sum(c) AS r FROM cells GROUP BY 1, 2),
       |ct AS (SELECT k, b AS cat, sum(c) AS l FROM cells GROUP BY 1, 2),
       |pe AS (SELECT rt.k, CAST(sum(rt.r * ct.l) AS BIGINT) AS pe_num
       |  FROM rt JOIN ct ON rt.k = ct.k AND rt.cat = ct.cat GROUP BY 1)
       |SELECT base.k AS l_linestatus, n, agree,
       |  CAST(coalesce(pe_num, 0) AS BIGINT) AS pe_num,
       |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |  CAST(coalesce(pe_num, 0) AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
       |  CASE WHEN CAST(coalesce(pe_num, 0) AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
       |    (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
       |      - CAST(coalesce(pe_num, 0) AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |    / (1.0 - CAST(coalesce(pe_num, 0) AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |  END AS kappa
       |FROM base LEFT JOIN pe ON base.k = pe.k""".stripMargin

  // ----------------------------------------------------------- mcnemar
  // Marginal homogeneity of the q_kappa rater pair: does the deep-
  // discount flag fire returned-lines asymmetrically? b/c are integer
  // discordant counts off one pass; chi2 one fixed-shape double.
  def qMcnemar(s: SparkSession, dir: String): DataFrame =
    Stats.mcnemar(
      t(s, dir, "lineitem").select(col("l_linestatus"),
        when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("flag_a"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("flag_b")),
      "l_linestatus", "flag_a", "flag_b")

  val qMcnemarSql: String =
    """WITH r AS (
      |  SELECT l_linestatus AS k,
      |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS b
      |  FROM lineitem),
      |agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS b,
      |    CAST(count(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS c
      |  FROM r GROUP BY 1)
      |SELECT k AS l_linestatus, n, b, c,
      |  CASE WHEN b + c > 0 THEN
      |    CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE)
      |      / CAST(b + c AS DOUBLE)
      |  END AS chi2
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- psi
  // Population Stability Index of the returned-lines price distribution
  // against everything else over 10k-wide equal bins: add-one smoothed,
  // each bin term waypoint-rounded into DECIMAL(20,12) (the q_js_div
  // libm-ln treatment), decimal sum, one double at the end.
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      floor(col("l_extendedprice") / 10000.0).cast("long").as("bin"))
    graft.operators.Divergence.psi(
      li.filter(col("l_returnflag") === "R"),
      li.filter(col("l_returnflag") =!= "R"), "bin")
  }

  val qPsiSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin
      |  FROM lineitem),
      |ac AS (SELECT bin, count(*) AS ca FROM b
      |  WHERE l_returnflag = 'R' AND bin IS NOT NULL GROUP BY 1),
      |ec AS (SELECT bin, count(*) AS ce FROM b
      |  WHERE l_returnflag <> 'R' AND bin IS NOT NULL GROUP BY 1),
      |j AS (SELECT coalesce(ac.bin, ec.bin) AS bin,
      |    coalesce(ca, 0) AS ca, coalesce(ce, 0) AS ce
      |  FROM ac FULL JOIN ec ON ac.bin = ec.bin),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |  CAST(sum(ce) AS BIGINT) AS ne,
      |  CAST(count(*) AS BIGINT) AS nb FROM j),
      |terms AS (SELECT na, ne, nb,
      |    CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + nb AS DOUBLE)
      |        - CAST(ce + 1 AS DOUBLE) / CAST(ne + nb AS DOUBLE))
      |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + nb AS DOUBLE))
      |          / (CAST(ce + 1 AS DOUBLE) / CAST(ne + nb AS DOUBLE)))
      |      AS DECIMAL(20,12)) AS t
      |  FROM j CROSS JOIN tot)
      |SELECT na AS n_actual, ne AS n_expected, nb AS n_bins,
      |  CAST(sum(t) AS DOUBLE) AS psi
      |FROM terms GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------ trimmed mean
  // 10%-each-side trimmed mean of extendedprice per returnflag: one
  // per-key sort, decimal middle-sum, one double division — the robust
  // location stat between median and mean.
  private val TrimFrac = 0.1

  def qTrimmedMean(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.trimmedMeanByKey(
      t(s, dir, "lineitem").withColumn("tie",
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"))),
      "l_returnflag", "l_extendedprice", "tie", TrimFrac)

  val qTrimmedMeanSql: String =
    s"""WITH r AS (SELECT l_returnflag AS k, l_extendedprice AS v,
       |    CAST(l_orderkey AS VARCHAR) || '-' ||
       |      CAST(l_linenumber AS VARCHAR) AS tie
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
       |rk AS (SELECT k, v,
       |    CAST(row_number() OVER (PARTITION BY k ORDER BY v, tie)
       |      AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY k) AS n FROM r),
       |cut AS (SELECT *,
       |    CAST(floor(CAST(n AS DOUBLE) * $TrimFrac) AS BIGINT) AS kk
       |  FROM rk),
       |agg AS (SELECT k, CAST(max(n) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (rn > kk AND rn <= n - kk) AS BIGINT)
       |      AS n_kept,
       |    sum(CASE WHEN rn > kk AND rn <= n - kk
       |      THEN CAST(v AS DECIMAL(18,2)) END) AS s
       |  FROM cut GROUP BY 1)
       |SELECT k AS l_returnflag, n, n_kept,
       |  CASE WHEN n_kept > 0 THEN
       |    CAST(s AS DOUBLE) / CAST(n_kept AS DOUBLE) END AS trimmed_mean
       |FROM agg""".stripMargin

  // ------------------------------------------------------ robust trend
  // Composition: Theil-Sen over the daily event-count series per
  // event_type — the robust "events per day of growth" a dashboard
  // quotes when one spiky day would wreck OLS. 30-point series ->
  // ~435 pairs per key, comfortably inside the bounded-group contract.
  def qRobustTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Robust.theilSenByKey(
      daily.withColumn("x", col("day").cast("double"))
        .withColumn("y", col("cnt").cast("double")),
      "event_type", "day", "x", "y")
  }

  val qRobustTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    count(*) AS cnt
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |base AS (SELECT event_type AS k, day AS id,
      |    CAST(day AS DOUBLE) AS x, CAST(cnt AS DOUBLE) AS y FROM daily),
      |sl AS (SELECT a.k, (b.y - a.y) / (b.x - a.x) AS s,
      |    a.id AS i1, b.id AS i2
      |  FROM base a JOIN base b ON a.k = b.k AND a.id < b.id
      |  WHERE a.x <> b.x),
      |med AS (SELECT k, CAST(m AS BIGINT) AS n_pairs, s AS slope FROM (
      |    SELECT k, s,
      |      row_number() OVER (PARTITION BY k ORDER BY s, i1, i2) AS rn,
      |      count(*) OVER (PARTITION BY k) AS m
      |    FROM sl)
      |  WHERE rn = (m + 1) // 2),
      |res AS (SELECT base.k, n_pairs, slope, id,
      |    y - slope * x AS r
      |  FROM base JOIN med ON base.k = med.k),
      |inter AS (SELECT k, n_pairs, slope, r AS intercept FROM (
      |    SELECT k, n_pairs, slope, r,
      |      row_number() OVER (PARTITION BY k ORDER BY r, id) AS rn,
      |      count(*) OVER (PARTITION BY k) AS m
      |    FROM res)
      |  WHERE rn = (m + 1) // 2),
      |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1)
      |SELECT nk.k AS event_type, n,
      |  CAST(coalesce(inter.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  slope, intercept
      |FROM nk LEFT JOIN inter ON nk.k = inter.k""".stripMargin

  // ------------------------------------------------------ fleiss kappa
  // Multi-rater agreement: treat each 4-line order as a subject rated
  // by 4 "annotators" into quantity terciles, per orderkey-parity
  // cohort — integer moments A/B, fixed-shape double κ; orders with a
  // different line count exercise the exclusion path. The oracle
  // replays counts, eligibility, and the exact double shapes.
  private val FleissRaters = 4

  def qFleissKappa(s: SparkSession, dir: String): DataFrame =
    Stats.fleissKappa(
      t(s, dir, "lineitem").select(
        (col("l_orderkey") % 2).as("cohort"), col("l_orderkey"),
        when(col("l_quantity") <= 17, "lo")
          .when(col("l_quantity") <= 34, "mid").otherwise("hi").as("cat")),
      "cohort", "l_orderkey", "cat", FleissRaters)

  val qFleissKappaSql: String =
    s"""WITH r AS (SELECT l_orderkey % 2 AS k, l_orderkey AS subj,
       |    CASE WHEN l_quantity <= 17 THEN 'lo'
       |         WHEN l_quantity <= 34 THEN 'mid' ELSE 'hi' END AS cat
       |  FROM lineitem),
       |cnt AS (SELECT k, subj, cat, count(*) AS nij FROM r GROUP BY 1, 2, 3),
       |per AS (SELECT k, subj, sum(nij) AS rr, sum(nij * nij) AS sq
       |  FROM cnt GROUP BY 1, 2),
       |elig AS (SELECT k, subj, sq FROM per WHERE rr = $FleissRaters),
       |exc AS (SELECT k,
       |  CAST(count(*) FILTER (rr <> $FleissRaters) AS BIGINT) AS n_excluded
       |  FROM per GROUP BY 1),
       |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n_subjects,
       |  CAST(sum(sq) AS BIGINT) AS a_sum FROM elig GROUP BY 1),
       |ct AS (SELECT c.k, c.cat, sum(c.nij) AS cj
       |  FROM cnt c JOIN elig e ON c.k = e.k AND c.subj = e.subj
       |  GROUP BY 1, 2),
       |b AS (SELECT k, sum(cj::HUGEINT * cj) AS b_sum FROM ct GROUP BY 1),
       |f AS (SELECT a.k, n_subjects, coalesce(exc.n_excluded, 0) AS n_excluded,
       |  a_sum, CAST(b.b_sum AS DOUBLE) AS b_sum,
       |  CAST(n_subjects AS DOUBLE) * $FleissRaters.0 AS nr
       |  FROM a LEFT JOIN b ON a.k = b.k LEFT JOIN exc ON a.k = exc.k)
       |SELECT k AS cohort, n_subjects,
       |  CAST(n_excluded AS BIGINT) AS n_excluded, a_sum, b_sum,
       |  (CAST(a_sum AS DOUBLE) - nr) / (nr * ${FleissRaters - 1}.0) AS p_bar,
       |  b_sum / (nr * nr) AS p_e,
       |  CASE WHEN b_sum / (nr * nr) < 1.0 THEN
       |    ((CAST(a_sum AS DOUBLE) - nr) / (nr * ${FleissRaters - 1}.0)
       |      - b_sum / (nr * nr)) / (1.0 - b_sum / (nr * nr))
       |  END AS kappa
       |FROM f""".stripMargin

  // -------------------------------------------------- mantel-haenszel
  // Confounder-safe pooled odds: deep-discount → returned-line odds
  // ratio pooled over order-priority strata — per-stratum ad/n and
  // bc/n as integral micro terms, integer sums, one final division.
  def qMantelHaenszel(s: SparkSession, dir: String): DataFrame =
    Stats.mantelHaenszel(
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("exposed"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("outcome")),
      "o_orderpriority", "exposed", "outcome")

  val qMantelHaenszelSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority AS st,
      |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |cells AS (SELECT st, count(*) AS n,
      |    count(*) FILTER (e = 1 AND o = 1) AS a,
      |    count(*) FILTER (e = 1 AND o = 0) AS b,
      |    count(*) FILTER (e = 0 AND o = 1) AS c,
      |    count(*) FILTER (e = 0 AND o = 0) AS d
      |  FROM r GROUP BY 1),
      |terms AS (SELECT n,
      |    CAST((1000000::HUGEINT * a * d) // n AS BIGINT) AS ad,
      |    CAST((1000000::HUGEINT * b * c) // n AS BIGINT) AS bc
      |  FROM cells),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |  CAST(sum(n) AS BIGINT) AS n,
      |  CAST(sum(ad) AS BIGINT) AS ad_micro,
      |  CAST(sum(bc) AS BIGINT) AS bc_micro FROM terms)
      |SELECT n_strata, n, ad_micro, bc_micro,
      |  CASE WHEN bc_micro > 0 THEN
      |    CAST(ad_micro AS DOUBLE) / CAST(bc_micro AS DOUBLE)
      |  END AS or_mh
      |FROM agg""".stripMargin

  // -------------------------------------------------------- cramers v
  // Association strength orderstatus↔orderpriority: per-cell χ²
  // contribution as ONE integral micro division of exact integer
  // products, summed as integers (order-independent where
  // chiSquareCells stops at cells), V as one fixed-shape sqrt.
  def qCramersV(s: SparkSession, dir: String): DataFrame =
    Stats.cramersV(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")

  val qCramersVSql: String =
    """WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
      |    count(*) AS obs
      |  FROM orders
      |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
      |  GROUP BY 1, 2),
      |rt AS (SELECT a, sum(obs) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT b, sum(obs) AS l FROM cells GROUP BY 1),
      |tot AS (SELECT sum(obs) AS n,
      |  CAST(count(DISTINCT a) AS BIGINT) AS r_dim,
      |  CAST(count(DISTINCT b) AS BIGINT) AS c_dim FROM cells),
      |mic AS (SELECT n, r_dim, c_dim,
      |    CAST((1000000::HUGEINT
      |        * (n::HUGEINT * obs - rt.r::HUGEINT * ct.l)
      |        * (n::HUGEINT * obs - rt.r::HUGEINT * ct.l))
      |      // (n::HUGEINT * rt.r * ct.l) AS BIGINT) AS chi_micro,
      |    CAST((1000000::HUGEINT * rt.r * ct.l) // n AS BIGINT) AS e_micro
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot),
      |agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
      |  CAST(max(r_dim) AS BIGINT) AS r, CAST(max(c_dim) AS BIGINT) AS c,
      |  CAST(sum(chi_micro)
      |    + (1000000 * max(n) - sum(e_micro)) AS BIGINT) AS chi2_micro
      |  FROM mic)
      |SELECT n, r, c, chi2_micro,
      |  CASE WHEN least(r, c) - 1 > 0 THEN
      |    sqrt(CAST(chi2_micro AS DOUBLE)
      |      / (1000000.0 * CAST(n AS DOUBLE)
      |         * CAST(least(r, c) - 1 AS DOUBLE)))
      |  END AS v
      |FROM agg""".stripMargin

  // ---------------------------------------------------------- kendall
  // Kendall tau-b per nation over suppliers (acctbal vs suppkey):
  // exact pair concordance via the bounded-group self-join (the
  // all-pairs contract — supplier strata are panel-sized), tie counts
  // from per-value groupBys, τ_b one fixed-shape double.
  def qKendall(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.kendallByKey(
      t(s, dir, "supplier").withColumn("y_mod", col("s_suppkey") % 100),
      "s_nationkey", "s_suppkey", "s_acctbal", "y_mod")

  val qKendallSql: String =
    """WITH base AS (SELECT s_nationkey AS k, s_suppkey AS id,
      |    s_acctbal AS x, s_suppkey % 100 AS y
      |  FROM supplier
      |  WHERE s_acctbal IS NOT NULL AND s_suppkey IS NOT NULL),
      |p AS (SELECT a.k,
      |    CAST(count(*) FILTER ((a.x < b.x AND a.y < b.y)
      |      OR (a.x > b.x AND a.y > b.y)) AS BIGINT) AS nc,
      |    CAST(count(*) FILTER ((a.x < b.x AND a.y > b.y)
      |      OR (a.x > b.x AND a.y < b.y)) AS BIGINT) AS nd
      |  FROM base a JOIN base b ON a.k = b.k AND a.id < b.id
      |  GROUP BY 1),
      |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
      |txc AS (SELECT k, CAST(sum((g * (g - 1)) // 2) AS BIGINT) AS tx
      |  FROM (SELECT k, x, count(*) AS g FROM base GROUP BY 1, 2)
      |  GROUP BY 1),
      |tyc AS (SELECT k, CAST(sum((g * (g - 1)) // 2) AS BIGINT) AS ty
      |  FROM (SELECT k, y, count(*) AS g FROM base GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT nk.k AS s_nationkey, n,
      |  CAST(coalesce(nc, 0) AS BIGINT) AS nc,
      |  CAST(coalesce(nd, 0) AS BIGINT) AS nd, tx, ty,
      |  CASE WHEN CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(tx AS DOUBLE)
      |         > 0.0
      |        AND CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(ty AS DOUBLE)
      |         > 0.0 THEN
      |    CAST(coalesce(nc, 0) - coalesce(nd, 0) AS DOUBLE)
      |    / (sqrt(CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(tx AS DOUBLE))
      |     * sqrt(CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(ty AS DOUBLE)))
      |  END AS tau_b
      |FROM nk LEFT JOIN p ON nk.k = p.k
      |  LEFT JOIN txc ON nk.k = txc.k LEFT JOIN tyc ON nk.k = tyc.k"""
      .stripMargin

  // --------------------------------------------------------- theil-sen
  // Robust slope of acctbal over suppkey per nation: the median of
  // pairwise slopes by rank-SELECTION (lower median, deterministic
  // (slope, id, id) tie order) — nothing is summed, so slope and
  // median-residual intercept are engine-exact doubles. Same bounded-
  // group pair-join contract as q_kendall.
  def qTheilSen(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.theilSenByKey(t(s, dir, "supplier"),
      "s_nationkey", "s_suppkey", "s_suppkey", "s_acctbal")

  val qTheilSenSql: String =
    """WITH base AS (SELECT s_nationkey AS k, s_suppkey AS id,
      |    CAST(s_suppkey AS DOUBLE) AS x, CAST(s_acctbal AS DOUBLE) AS y
      |  FROM supplier
      |  WHERE s_suppkey IS NOT NULL AND s_acctbal IS NOT NULL),
      |sl AS (SELECT a.k, (b.y - a.y) / (b.x - a.x) AS s,
      |    a.id AS i1, b.id AS i2
      |  FROM base a JOIN base b ON a.k = b.k AND a.id < b.id
      |  WHERE a.x <> b.x),
      |med AS (SELECT k, CAST(m AS BIGINT) AS n_pairs, s AS slope FROM (
      |    SELECT k, s,
      |      row_number() OVER (PARTITION BY k ORDER BY s, i1, i2) AS rn,
      |      count(*) OVER (PARTITION BY k) AS m
      |    FROM sl)
      |  WHERE rn = (m + 1) // 2),
      |res AS (SELECT base.k, n_pairs, slope, id,
      |    y - slope * x AS r
      |  FROM base JOIN med ON base.k = med.k),
      |inter AS (SELECT k, n_pairs, slope, r AS intercept FROM (
      |    SELECT k, n_pairs, slope, r,
      |      row_number() OVER (PARTITION BY k ORDER BY r, id) AS rn,
      |      count(*) OVER (PARTITION BY k) AS m
      |    FROM res)
      |  WHERE rn = (m + 1) // 2),
      |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1)
      |SELECT nk.k AS s_nationkey, n,
      |  CAST(coalesce(inter.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  slope, intercept
      |FROM nk LEFT JOIN inter ON nk.k = inter.k""".stripMargin


  // ------------------------------------------------------- weighted ess
  // Quantity-weighted mean price per returnflag with Kish's effective
  // sample size — the importance-weighting health check (ESS collapses
  // toward 1 under weight concentration regardless of row count).
  def qWeightedEss(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.weightedMeanEss(t(s, dir, "lineitem"),
      "l_returnflag", "l_extendedprice", "l_quantity")

  val qWeightedEssSql: String =
    """WITH a AS (
      |  SELECT l_returnflag AS k, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sw,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_quantity AS DECIMAL(18,2))) AS sww,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS swx
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |    AND l_quantity > 0
      |  GROUP BY 1)
      |SELECT k AS l_returnflag, n,
      |  CASE WHEN CAST(sw AS DOUBLE) > 0.0
      |    THEN CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) END AS wmean,
      |  CASE WHEN CAST(sww AS DOUBLE) > 0.0
      |    THEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
      |      / CAST(sww AS DOUBLE) END AS ess
      |FROM a""".stripMargin

  // ------------------------------------------------- kendall (sampled)
  // The U-statistic escape hatch measured against corpus-sized keys:
  // per event_type (~2k rows/key at sf0.01 — a "huge" key for a
  // quadratic pair join), hash-subsample rows at 5% (md5-bucket,
  // engine-replayable) and run the EXACT tau-b machinery on the sample
  // — pair work drops (rate)² = 400×. The oracle replays the identical
  // sample decision (hex-fold of md5) and the identical pair algebra.
  private val KendallSampleRate = 0.05
  private val KendallKeep =
    (KendallSampleRate * QueriesText.SampleBuckets).toLong

  def qKendallSampled(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.kendallSampledByKey(
      t(s, dir, "events"), "event_type", "event_id", "value", "user_id",
      KendallSampleRate, QueriesText.SampleBuckets)

  val qKendallSampledSql: String =
    s"""WITH base AS (SELECT event_type AS k, event_id AS id,
       |    value AS x, user_id AS y
       |  FROM events
       |  WHERE value IS NOT NULL AND user_id IS NOT NULL
       |    AND event_id IS NOT NULL),
       |nf AS (SELECT k, CAST(count(*) AS BIGINT) AS n_full
       |  FROM base GROUP BY 1),
       |sb AS (SELECT * FROM base
       |  WHERE ${QueriesText.sqlHexFold("id")}
       |    % ${QueriesText.SampleBuckets} < $KendallKeep),
       |p AS (SELECT a.k,
       |    CAST(count(*) FILTER ((a.x < b.x AND a.y < b.y)
       |      OR (a.x > b.x AND a.y > b.y)) AS BIGINT) AS nc,
       |    CAST(count(*) FILTER ((a.x < b.x AND a.y > b.y)
       |      OR (a.x > b.x AND a.y < b.y)) AS BIGINT) AS nd
       |  FROM sb a JOIN sb b ON a.k = b.k AND a.id < b.id
       |  GROUP BY 1),
       |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM sb GROUP BY 1),
       |txc AS (SELECT k, CAST(sum((g * (g - 1)) // 2) AS BIGINT) AS tx
       |  FROM (SELECT k, x, count(*) AS g FROM sb GROUP BY 1, 2)
       |  GROUP BY 1),
       |tyc AS (SELECT k, CAST(sum((g * (g - 1)) // 2) AS BIGINT) AS ty
       |  FROM (SELECT k, y, count(*) AS g FROM sb GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT nf.k AS event_type, n_full,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n,
       |  CAST((coalesce(n, 0) * (coalesce(n, 0) - 1)) // 2 AS BIGINT)
       |    AS n_pairs,
       |  CAST(coalesce(nc, 0) AS BIGINT) AS nc,
       |  CAST(coalesce(nd, 0) AS BIGINT) AS nd,
       |  CAST(coalesce(tx, 0) AS BIGINT) AS tx,
       |  CAST(coalesce(ty, 0) AS BIGINT) AS ty,
       |  CASE WHEN CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(tx AS DOUBLE)
       |         > 0.0
       |        AND CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(ty AS DOUBLE)
       |         > 0.0 THEN
       |    CAST(coalesce(nc, 0) - coalesce(nd, 0) AS DOUBLE)
       |    / (sqrt(CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(tx AS DOUBLE))
       |     * sqrt(CAST(n * (n - 1) AS DOUBLE) / 2.0 - CAST(ty AS DOUBLE)))
       |  END AS tau_b
       |FROM nf LEFT JOIN nk ON nf.k = nk.k
       |  LEFT JOIN p ON nf.k = p.k
       |  LEFT JOIN txc ON nf.k = txc.k
       |  LEFT JOIN tyc ON nf.k = tyc.k""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_kendall_sampled", qKendallSampled, qKendallSampledSql),
    Query("q_weighted_ess", qWeightedEss, qWeightedEssSql),
    Query("q_kappa", qKappa, qKappaSql),
    Query("q_mcnemar", qMcnemar, qMcnemarSql),
    Query("q_psi", qPsi, qPsiSql),
    Query("q_trimmed_mean", qTrimmedMean, qTrimmedMeanSql),
    Query("q_robust_trend", qRobustTrend, qRobustTrendSql),
    Query("q_fleiss_kappa", qFleissKappa, qFleissKappaSql),
    Query("q_mantel_haenszel", qMantelHaenszel, qMantelHaenszelSql),
    Query("q_cramers_v", qCramersV, qCramersVSql),
    Query("q_kendall", qKendall, qKendallSql),
    Query("q_theil_sen", qTheilSen, qTheilSenSql),
  )
}
