package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Auc, Conformal, LabelProp, LinearModel, Sampling}

/** Round-11 query group: in-engine model fitting and certification —
  * ridge regression by exact normal-equation moments, split-conformal
  * prediction intervals over deterministic splits, and deterministic
  * label-propagation communities. The family a curation pipeline uses
  * to FIT its quality/calibration models where the corpus lives instead
  * of collecting samples out (fastETL's answer is a copy pipeline to a
  * warehouse — fastetl/custom_functions/fast_etl.py; this is the
  * engine-native counterpart).
  */
object QueriesModel {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // -------------------------------------------------------- ridge fit
  // Per-returnflag ridge of extendedprice on (quantity, discount),
  // λ = 1000: ONE moment aggregate (ten decimal partials), Cramer-rule
  // double solve on the 3-row result. The oracle replays the identical
  // decimal partials and the identical fixed-shape double expressions —
  // hash agreement means bit-equal coefficients and R².
  private val RidgeLambda = 1000.0

  def qRidgeFit(s: SparkSession, dir: String): DataFrame =
    LinearModel.ridgeByKey(t(s, dir, "lineitem"), "l_returnflag",
      "l_extendedprice", "l_quantity", "l_discount", RidgeLambda)

  val qRidgeFitSql: String =
    s"""WITH a AS (
       |  SELECT l_returnflag AS k, count(*) AS n,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
       |    sum(CAST(l_discount AS DECIMAL(18,2))) AS s2,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_quantity AS DECIMAL(18,2))) AS s11,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s12,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s22,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_discount IS NOT NULL
       |  GROUP BY 1),
       |s AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
       |  CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
       |  CAST(sy AS DOUBLE) AS sy,
       |  CAST(s11 AS DOUBLE) AS s11r, CAST(s12 AS DOUBLE) AS s12,
       |  CAST(s22 AS DOUBLE) AS s22r,
       |  CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
       |  CAST(syy AS DOUBLE) AS syy FROM a),
       |p AS (SELECT *, s11r + $RidgeLambda AS s11, s22r + $RidgeLambda AS s22
       |  FROM s),
       |d AS (SELECT *,
       |  nd*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
       |    + s2*(s1*s12 - s11*s2) AS det,
       |  sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
       |    + s2*(s1y*s12 - s11*s2y) AS det0,
       |  nd*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
       |    + s2*(s1*s2y - s1y*s2) AS det1,
       |  nd*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
       |    + sy*(s1*s12 - s11*s2) AS det2
       |  FROM p),
       |c AS (SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2
       |  FROM d),
       |f AS (SELECT *,
       |  syy - 2.0*(b0*sy + b1*s1y + b2*s2y)
       |    + (b0*(nd*b0 + s1*b1 + s2*b2)
       |       + b1*(s1*b0 + s11r*b1 + s12*b2)
       |       + b2*(s2*b0 + s12*b1 + s22r*b2)) AS sse,
       |  syy - sy*sy/nd AS sst FROM c)
       |SELECT k AS l_returnflag, n,
       |  CASE WHEN det <> 0.0 THEN b0 END AS b0,
       |  CASE WHEN det <> 0.0 THEN b1 END AS b1,
       |  CASE WHEN det <> 0.0 THEN b2 END AS b2,
       |  CASE WHEN det <> 0.0 AND sst > 0.0 THEN 1.0 - sse/sst END AS r2
       |FROM f""".stripMargin

  // ------------------------------------------------------- ridge state
  // The incremental path through the DRIVER GATE: two disjoint halves
  // (orderkey parity) folded as persisted-style moment states, merged
  // by decimal addition, solved from state — the oracle is the SAME SQL
  // as q_ridge_fit, pinning fit-from-state ≡ fit-from-rows bit-exactly.
  def qRidgeState(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def half(p: Int) = LinearModel.momentState(
      li.filter(pmod(col("l_orderkey"), lit(2)) === p),
      "l_returnflag", "l_extendedprice", "l_quantity", "l_discount")
    LinearModel.ridgeFromState(
      LinearModel.mergeMomentState(half(0).unionByName(half(1)),
        "l_returnflag"),
      "l_returnflag", RidgeLambda)
  }

  // --------------------------------------------------------- cv ridge
  // 5-fold cross-validated ridge from ONE corpus pass: per-fold decimal
  // moments, leave-one-fold-out training moments by exact subtraction
  // (global − fold), Cramer solve per fold, out-of-fold SSE from the
  // quadratic form — CV never rescans rows. The oracle replays the
  // whole chain: identical decimal sums, identical double tree.
  private val CvFolds = 5

  def qCvRidge(s: SparkSession, dir: String): DataFrame =
    LinearModel.cvRidgeByFold(
      t(s, dir, "lineitem").withColumn("fold",
        (Sampling.hashBucket(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")), 10000)
          % CvFolds).cast("int")),
      "fold", "l_extendedprice", "l_quantity", "l_discount", RidgeLambda)

  val qCvRidgeSql: String = {
    val fold = QueriesText.sqlHexFold(
      "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")
    s"""WITH a AS (
       |  SELECT CAST($fold % 10000 % $CvFolds AS INTEGER) AS fold,
       |    count(*) AS n,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
       |    sum(CAST(l_discount AS DECIMAL(18,2))) AS s2,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_quantity AS DECIMAL(18,2))) AS s11,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s12,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s22,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_discount IS NOT NULL
       |  GROUP BY 1),
       |g AS (SELECT *,
       |  sum(n) OVER () AS g_n, sum(s1) OVER () AS g_s1,
       |  sum(s2) OVER () AS g_s2, sum(sy) OVER () AS g_sy,
       |  sum(s11) OVER () AS g_s11, sum(s12) OVER () AS g_s12,
       |  sum(s22) OVER () AS g_s22, sum(s1y) OVER () AS g_s1y,
       |  sum(s2y) OVER () AS g_s2y, sum(syy) OVER () AS g_syy FROM a),
       |l AS (SELECT fold, n,
       |  CAST(n AS DOUBLE) AS fn, CAST(s1 AS DOUBLE) AS fs1,
       |  CAST(s2 AS DOUBLE) AS fs2, CAST(sy AS DOUBLE) AS fsy,
       |  CAST(s11 AS DOUBLE) AS fs11, CAST(s12 AS DOUBLE) AS fs12,
       |  CAST(s22 AS DOUBLE) AS fs22, CAST(s1y AS DOUBLE) AS fs1y,
       |  CAST(s2y AS DOUBLE) AS fs2y, CAST(syy AS DOUBLE) AS fsyy,
       |  CAST(g_n - n AS DOUBLE) AS nd, CAST(g_s1 - s1 AS DOUBLE) AS s1,
       |  CAST(g_s2 - s2 AS DOUBLE) AS s2, CAST(g_sy - sy AS DOUBLE) AS sy,
       |  CAST(g_s11 - s11 AS DOUBLE) AS s11r,
       |  CAST(g_s12 - s12 AS DOUBLE) AS s12,
       |  CAST(g_s22 - s22 AS DOUBLE) AS s22r,
       |  CAST(g_s1y - s1y AS DOUBLE) AS s1y,
       |  CAST(g_s2y - s2y AS DOUBLE) AS s2y,
       |  CAST(g_syy - syy AS DOUBLE) AS syy FROM g),
       |p AS (SELECT *, s11r + $RidgeLambda AS s11, s22r + $RidgeLambda AS s22
       |  FROM l),
       |d AS (SELECT *,
       |  nd*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
       |    + s2*(s1*s12 - s11*s2) AS det,
       |  sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
       |    + s2*(s1y*s12 - s11*s2y) AS det0,
       |  nd*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
       |    + s2*(s1*s2y - s1y*s2) AS det1,
       |  nd*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
       |    + sy*(s1*s12 - s11*s2) AS det2
       |  FROM p),
       |c AS (SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2
       |  FROM d),
       |f AS (SELECT *,
       |  fsyy - 2.0*(b0*fsy + b1*fs1y + b2*fs2y)
       |    + (b0*(fn*b0 + fs1*b1 + fs2*b2)
       |       + b1*(fs1*b0 + fs11*b1 + fs12*b2)
       |       + b2*(fs2*b0 + fs12*b1 + fs22*b2)) AS sse
       |  FROM c)
       |SELECT fold, n,
       |  CASE WHEN det <> 0.0 THEN b0 END AS b0,
       |  CASE WHEN det <> 0.0 THEN b1 END AS b1,
       |  CASE WHEN det <> 0.0 THEN b2 END AS b2,
       |  CASE WHEN det <> 0.0 THEN sse END AS sse_oof,
       |  CASE WHEN det <> 0.0 THEN
       |    sqrt(greatest(sse, 0.0) / fn) END AS rmse_oof
       |FROM f""".stripMargin
  }

  // -------------------------------------------------------- conformal
  // 90% split-conformal intervals for a per-flag mean predictor over a
  // deterministic md5 three-way split (train 50 / cal 25 / test 25 by
  // row key — the Splits bucket mechanics). The conformal radius is an
  // exact order statistic of calibration residuals; test coverage is an
  // integer count. One corpus scan (the split base is retained).
  def qConformal(s: SparkSession, dir: String): DataFrame = {
    val base = graft.core.CacheScope.session.retain(
      t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_extendedprice").as("y"),
        Sampling.hashBucket(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")), 10000).as("b")))
    val pred = base.filter(col("b") < 5000)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("y").cast("decimal(18,2)")).as("ty"),
        count(lit(1)).as("tn"))
      .select(col("l_returnflag"),
        (col("ty").cast("double") / col("tn").cast("double")).as("pred"))
    def resid(df: DataFrame): DataFrame =
      df.join(broadcast(pred), Seq("l_returnflag"))
        .withColumn("resid", abs(col("y").cast("double") - col("pred")))
    val cal = resid(base.filter(col("b") >= 5000 && col("b") < 7500))
    val rad = Conformal.radius(cal, "l_returnflag", "resid", 9, 10)
    Conformal.coverage(resid(base.filter(col("b") >= 7500)), rad,
      "l_returnflag", "resid")
  }

  val qConformalSql: String = {
    val fold = QueriesText.sqlHexFold(
      "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")
    s"""WITH li AS (SELECT l_returnflag AS k, l_extendedprice AS y,
       |    $fold % 10000 AS b FROM lineitem),
       |tr AS (SELECT k, CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pred
       |  FROM li WHERE b < 5000 GROUP BY 1),
       |cal AS (SELECT li.k, abs(CAST(y AS DOUBLE) - pred) AS resid
       |  FROM li JOIN tr ON li.k = tr.k WHERE b >= 5000 AND b < 7500),
       |calr AS (SELECT k, resid,
       |    row_number() OVER (PARTITION BY k ORDER BY resid) AS rk,
       |    count(*) OVER (PARTITION BY k) AS n_cal FROM cal),
       |rad AS (SELECT k, n_cal,
       |    CASE WHEN kk <= n_cal THEN resid END AS q_hat
       |  FROM (SELECT *, (9*(n_cal+1)+9)//10 AS kk FROM calr)
       |  WHERE rk = kk OR (rk = n_cal AND kk > n_cal)),
       |te AS (SELECT li.k, abs(CAST(y AS DOUBLE) - pred) AS resid
       |  FROM li JOIN tr ON li.k = tr.k WHERE b >= 7500)
       |SELECT te.k AS l_returnflag, max(n_cal) AS n_cal,
       |  count(*) AS n_test, max(q_hat) AS q_hat,
       |  CAST(sum(CASE WHEN resid <= q_hat THEN 1 ELSE 0 END)
       |    AS BIGINT) AS covered,
       |  CAST((sum(CASE WHEN resid <= q_hat THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS coverage_ppm
       |FROM te JOIN rad ON te.k = rad.k GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------- label prop
  // Deterministic synchronous label propagation, 3 rounds, over the
  // customer–supplier co-order bipartite graph (both orientations —
  // the q_pagerank graph). The oracle replays each round as a
  // count + row_number(ORDER BY c DESC, label ASC) CTE — identical
  // most-frequent/smallest-label updates.
  private val LpRounds = 3

  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    LabelProp.run(edges, "src", "dst", LpRounds)
  }

  val qLabelPropSql: String = {
    def round(prev: String, upd: String, out: String) =
      s"""$upd AS (SELECT src AS node, label FROM (
         |    SELECT e.src AS src, l.label AS label, count(*) AS c
         |    FROM e JOIN $prev l ON e.dst = l.node GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY c DESC, label ASC) = 1),
         |$out AS (SELECT p.node,
         |    coalesce(u.label, p.label) AS label
         |  FROM $prev p LEFT JOIN $upd u ON p.node = u.node)""".stripMargin
    val rounds = (0 until LpRounds)
      .map(i => round(s"l$i", s"u${i + 1}", s"l${i + 1}")).mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT
       |    'c' || CAST(o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |l0 AS (SELECT node, node AS label FROM
       |  (SELECT DISTINCT src AS node FROM e)),
       |$rounds
       |SELECT node, label FROM l$LpRounds""".stripMargin
  }

  // -------------------------------------------------------------- auc
  // Exact tie-aware ROC AUC of quantity "predicting" a returned line,
  // per linestatus — pure integer arithmetic (midrank blocks), so the
  // oracle replays the identical block algebra with zero float risk.
  // Quantity takes 50 distinct values: the distinct-score window is
  // bounded by construction (the operator's documented contract).
  def qAuc(s: SparkSession, dir: String): DataFrame =
    Auc.aucByKey(
      t(s, dir, "lineitem").withColumn("is_return",
        when(col("l_returnflag") === "R", 1L).otherwise(0L)),
      "l_linestatus", "l_quantity", "is_return")

  val qAucSql: String =
    """WITH b AS (SELECT l_linestatus AS k, l_quantity AS s,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS nn
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
      |  GROUP BY 1, 2),
      |w AS (SELECT k, np, nn, m,
      |    sum(m) OVER (PARTITION BY k ORDER BY s) - m AS cb
      |  FROM (SELECT *, np + nn AS m FROM b)),
      |a AS (SELECT k, CAST(sum(np) AS BIGINT) AS n_pos,
      |    CAST(sum(nn) AS BIGINT) AS n_neg,
      |    CAST(sum(np * (2 * cb + m + 1)) AS BIGINT) AS r2
      |  FROM w GROUP BY 1)
      |SELECT k AS l_linestatus, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    CAST(((r2 - n_pos * (n_pos + 1)) * 1000000)
      |      // (2 * n_pos * n_neg) AS BIGINT) END AS auc_ppm
      |FROM a""".stripMargin

  // ---------------------------------------------------------- calibration
  // Reliability table + exact ECE of a micro-unit probability against
  // the return label. The score is the quantity rescaled to [0, 1e6]
  // (integer, engine-portable — Calibration.scala's contract; in
  // production it is a fitted model's output). Every statistic is
  // integer-exact up to one fixed-shape double division, so the oracle
  // hash-matches bit-for-bit.
  private def scored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      (col("l_quantity").cast("long") * 20000L).as("score_micro"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))

  private val sqlScored =
    """s AS (
      |  SELECT CAST(l_quantity AS BIGINT) * 20000 AS score_micro,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem)""".stripMargin

  private val CalBins = 10

  def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.operators.Calibration.reliability(
      scored(s, dir), "score_micro", "y", CalBins)

  // -------------------------------------------------- isotonic calibration
  // The reliability bins fitted to the best monotone curve in score
  // order — PAVA through the exact nano-quantized minimax
  // (operators.Isotonic), keyed by ship year so seven independent fits
  // run in one plan. The oracle replays prefix sums, the (i,j) block
  // grid, the reverse running min, and the closing max — all integer.
  def qIsotonic(s: SparkSession, dir: String): DataFrame = {
    val sm = col("l_quantity").cast("long") * 20000L
    val prod = sm * CalBins
    val bins = t(s, dir, "lineitem").select(
        year(col("l_shipdate")).cast("long").as("yr"),
        least(((prod - prod % 1000000L) / 1000000L).cast("long"),
          lit((CalBins - 1).toLong)).as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("yr"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    graft.operators.Isotonic.fit(bins, "yr", "bin", "n_pos", "n")
      .withColumnRenamed("bin", "bin_id")
  }

  val qIsotonicSql: String =
    s"""WITH src AS (
       |  SELECT year(l_shipdate) AS yr,
       |    least((CAST(l_quantity AS BIGINT) * 20000 * $CalBins) // 1000000,
       |          ${CalBins - 1}) AS bin,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       |  FROM lineitem),
       |b AS (
       |  SELECT yr, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
       |  FROM src GROUP BY 1, 2),
       |c AS (
       |  SELECT yr, bin, n, n_pos,
       |    sum(n_pos) OVER (PARTITION BY yr ORDER BY bin) AS cs,
       |    sum(n) OVER (PARTITION BY yr ORDER BY bin) AS cw
       |  FROM b),
       |p AS (
       |  SELECT l.yr, l.bin AS i, h.bin AS j,
       |    ((h.cs - (l.cs - l.n_pos)) * 1000000000)
       |      // (h.cw - (l.cw - l.n)) AS a
       |  FROM c l JOIN c h ON l.yr = h.yr AND l.bin <= h.bin),
       |m AS (
       |  SELECT yr, i, j,
       |    min(a) OVER (PARTITION BY yr, i ORDER BY j
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mn
       |  FROM p),
       |f AS (
       |  SELECT yr, j AS bin, CAST(max(mn) AS BIGINT) AS fitted_nano
       |  FROM m GROUP BY 1, 2)
       |SELECT b.yr, b.bin AS bin_id, b.n_pos, b.n, f.fitted_nano,
       |  CAST(f.fitted_nano AS DOUBLE) / 1.0e9 AS fitted
       |FROM b JOIN f ON b.yr = f.yr AND b.bin = f.bin""".stripMargin

  val qCalibrationSql: String =
    s"""WITH $sqlScored,
       |b AS (
       |  SELECT CAST(least((score_micro * $CalBins) // 1000000,
       |                    ${CalBins - 1}) AS INT) AS bin,
       |    count(*) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(score_micro) AS BIGINT) AS score_micro_sum
       |  FROM s GROUP BY 1),
       |g AS (
       |  SELECT CAST(sum(abs(1000000 * n_pos - score_micro_sum))
       |           AS BIGINT) AS ece_num,
       |    CAST(sum(n) AS BIGINT) AS nn
       |  FROM b)
       |SELECT bin, n, n_pos, score_micro_sum,
       |  CAST(score_micro_sum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
       |    AS conf,
       |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
       |  ece_num,
       |  CAST(ece_num AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE)) AS ece
       |FROM b CROSS JOIN g""".stripMargin

  // Confusion matrix + PRF at the 0.5 threshold fused with the Brier
  // score in ONE aggregate pass (Calibration.evalAt — each derived
  // metric a single integer division; Brier's square-sum in
  // DECIMAL/HUGEINT). CalibrationSpec pins evalAt == brier × confusionAt.
  private val CalThr = 500000L

  def qConfusion(s: SparkSession, dir: String): DataFrame =
    graft.operators.Calibration.evalAt(
      scored(s, dir), "score_micro", "y", CalThr)

  val qConfusionSql: String =
    s"""WITH $sqlScored,
       |c AS (SELECT
       |  CAST(sum(CASE WHEN score_micro >= $CalThr AND y = 1
       |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN score_micro >= $CalThr AND y = 0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN score_micro < $CalThr AND y = 0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CAST(sum(CASE WHEN score_micro < $CalThr AND y = 1
       |           THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM s),
       |br AS (SELECT count(*) AS n,
       |  sum((score_micro - 1000000 * y) * (score_micro - 1000000 * y))
       |    AS sq
       |  FROM s)
       |SELECT n,
       |  CAST(sq AS DOUBLE) / (1000000000000.0 * CAST(n AS DOUBLE))
       |    AS brier,
       |  tp, fp, tn, fn,
       |  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + tn + fn AS DOUBLE)
       |    AS accuracy,
       |  CASE WHEN tp + fp > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
       |    AS "precision",
       |  CASE WHEN tp + fn > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
       |    AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |    THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       |    END AS f1
       |FROM br CROSS JOIN c""".stripMargin

  // ----------------------------------------------------------------- ndcg
  // NDCG@5 per supplier: parts ranked by exact decimal ship volume,
  // graded relevance = count of large (> 25 qty) lines for the pair.
  // Both DCG and IDCG are the same fixed left-associated 5-term chain
  // over integer conditional sums and SHARED weight literals
  // (RankEval.ndcgWeights interpolated into this SQL — an engine's own
  // log2 may differ in the last ulp), so the oracle hash-matches the
  // doubles bit-for-bit.
  private val NdcgK = 5

  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // retained: base feeds the ranking AND the relevance side; without
    // it each consumer re-runs the corpus aggregate (no ReusedExchange
    // — AQE canonicalization defeats subtree reuse here)
    val base = graft.core.CacheScope.session.retain(
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"),
          count_if(col("l_quantity") > 25).as("rel")))
    val ranking = base
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("l_suppkey"))
          .orderBy(col("qty").desc, col("l_partkey"))))
      .filter(col("rank") <= NdcgK)
      .select(col("l_suppkey"), col("l_partkey"), col("rank"))
    graft.similarity.RankEval.ndcgAtK(ranking,
      base.select(col("l_suppkey"), col("l_partkey"), col("rel")),
      "l_suppkey", "l_partkey", "rank", "rel", NdcgK)
  }

  val qNdcgSql: String = {
    val ws = graft.similarity.RankEval.ndcgWeights(NdcgK)
    def sums(rankCol: String, p: String) = ws.indices.map(i =>
      s"CAST(sum(CASE WHEN $rankCol = ${i + 1} THEN rel ELSE 0 END) " +
        s"AS BIGINT) AS $p${i + 1}").mkString(",\n    ")
    def chain(p: String) = ws.zipWithIndex.map { case (w, i) =>
      s"CAST($p${i + 1} AS DOUBLE) * $w"
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT l_suppkey AS q, l_partkey AS id,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
       |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS rel
       |  FROM lineitem GROUP BY 1, 2),
       |rk AS (
       |  SELECT q, id, rel, row_number() OVER (
       |    PARTITION BY q ORDER BY qty DESC, id) AS rnk
       |  FROM base),
       |act AS (
       |  SELECT q,
       |    ${sums("rnk", "s")}
       |  FROM rk WHERE rnk <= $NdcgK GROUP BY q),
       |idl AS (
       |  SELECT q, rel, row_number() OVER (
       |    PARTITION BY q ORDER BY rel DESC, id) AS irank
       |  FROM base WHERE rel > 0),
       |idt AS (
       |  SELECT q,
       |    ${sums("irank", "t")}
       |  FROM idl WHERE irank <= $NdcgK GROUP BY q),
       |j AS (
       |  SELECT act.q,
       |    ${chain("s")} AS dcg,
       |    ${chain("t")} AS idcg
       |  FROM act LEFT JOIN idt ON act.q = idt.q)
       |SELECT q AS l_suppkey, dcg, idcg,
       |  CASE WHEN idcg > 0.0 THEN dcg / idcg END AS ndcg
       |FROM j""".stripMargin
  }

  // ------------------------------------------------------ average precision
  // AP@5 per supplier over the q_ndcg ranking with BINARY relevance
  // (any large line ⇒ relevant part): every precision term is one
  // integral micro division over the running-hit count, the numerator
  // an integer sum — `div` and `//` agree on the all-positive operands,
  // so AP is integer-exact across engines (RankEval scaladoc).
  private val ApK = 5

  def qAvgPrecision(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // retained for the q_ndcg reason: three consumers, no subtree reuse
    val base = graft.core.CacheScope.session.retain(
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"),
          count_if(col("l_quantity") > 25).as("rel")))
    val ranking = base
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("l_suppkey"))
          .orderBy(col("qty").desc, col("l_partkey"))))
      .filter(col("rank") <= ApK)
      .select(col("l_suppkey"), col("l_partkey"), col("rank"))
    graft.similarity.RankEval.averagePrecisionAtK(ranking,
      base.select(col("l_suppkey"), col("l_partkey"), col("rel")),
      "l_suppkey", "l_partkey", "rank", "rel", ApK)
  }

  val qAvgPrecisionSql: String =
    s"""WITH base AS (
       |  SELECT l_suppkey AS q, l_partkey AS id,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
       |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS rel
       |  FROM lineitem GROUP BY 1, 2),
       |rk AS (
       |  SELECT q, id, row_number() OVER (
       |    PARTITION BY q ORDER BY qty DESC, id) AS rnk
       |  FROM base),
       |rel AS (SELECT q, id FROM base WHERE rel > 0),
       |rt AS (SELECT q, CAST(count(*) AS BIGINT) AS r_total
       |  FROM rel GROUP BY 1),
       |hits AS (
       |  SELECT rk.q, rk.rnk,
       |    CASE WHEN rel.id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM rk LEFT JOIN rel ON rk.q = rel.q AND rk.id = rel.id
       |  WHERE rk.rnk <= $ApK),
       |c AS (
       |  SELECT q, rnk, hit, sum(hit) OVER (
       |    PARTITION BY q ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM hits),
       |g AS (
       |  SELECT q, CAST(sum(hit) AS BIGINT) AS hits,
       |    CAST(sum(CASE WHEN hit = 1
       |      THEN (1000000 * cum) // rnk ELSE 0 END) AS BIGINT)
       |      AS ap_num_micro
       |  FROM c GROUP BY 1)
       |SELECT g.q AS l_suppkey,
       |  CAST(coalesce(rt.r_total, 0) AS BIGINT) AS r_total,
       |  g.hits, g.ap_num_micro,
       |  CASE WHEN coalesce(rt.r_total, 0) > 0 THEN
       |    CAST(g.ap_num_micro // least(rt.r_total, $ApK) AS BIGINT)
       |  END AS ap_ppm
       |FROM g LEFT JOIN rt ON g.q = rt.q""".stripMargin

  // ---------------------------------------------------- bradley-terry
  // Pairwise-preference strengths over supplier head-to-heads: within
  // each order, every supplier pair is one comparison won by the
  // cheaper line (price tie -> lower suppkey, deterministic). Two MM
  // rounds, every libm-free division waypointed through DECIMAL(20,12)
  // (the PSI idiom), max-normalized per round (the HITS idiom); the
  // oracle replays the fit as unrolled CTEs bit-for-bit.
  private val BtIters = 2

  def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
    val comps = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .select(
        when(col("x.l_extendedprice") <= col("y.l_extendedprice"),
          col("x.l_suppkey")).otherwise(col("y.l_suppkey")).as("winner"),
        when(col("x.l_extendedprice") <= col("y.l_extendedprice"),
          col("y.l_suppkey")).otherwise(col("x.l_suppkey")).as("loser"))
    graft.operators.BradleyTerry.fit(comps, "winner", "loser", BtIters)
  }

  val qBradleyTerrySql: String = {
    def round(prev: String, cur: String) =
      s"""d$cur AS (SELECT p.i,
         |    sum(CASE WHEN ti.theta + tj.theta > 0 THEN
         |      CAST(CAST(p.n AS DOUBLE) / (ti.theta + tj.theta)
         |        AS DECIMAL(20,12)) END) AS den
         |  FROM pr p JOIN $prev ti ON p.i = ti.item
         |            JOIN $prev tj ON p.j = tj.item
         |  GROUP BY 1),
         |r$cur AS (SELECT tt.item,
         |    CAST(CASE WHEN coalesce(den, 0) > 0
         |      THEN CAST(wins AS DOUBLE) / CAST(den AS DOUBLE)
         |      ELSE 0.0 END AS DECIMAL(20,12)) AS th
         |  FROM tt LEFT JOIN d$cur ON tt.item = d$cur.i),
         |m$cur AS (SELECT max(th) AS mx FROM r$cur),
         |t$cur AS (SELECT item,
         |    CASE WHEN mx > 0 THEN
         |      CAST(CAST(CAST(th AS DOUBLE) / CAST(mx AS DOUBLE)
         |        AS DECIMAL(20,12)) AS DOUBLE)
         |    ELSE 0.0 END AS theta
         |  FROM r$cur CROSS JOIN m$cur)""".stripMargin
    val rounds = (1 to BtIters).map(r => round(s"t${r - 1}", s"$r"))
      .mkString(",\n")
    s"""WITH rw AS (
       |  SELECT CASE WHEN x.l_extendedprice <= y.l_extendedprice
       |           THEN x.l_suppkey ELSE y.l_suppkey END AS w,
       |         CASE WHEN x.l_extendedprice <= y.l_extendedprice
       |           THEN y.l_suppkey ELSE x.l_suppkey END AS l
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey
       |   AND x.l_suppkey < y.l_suppkey),
       |gm AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM rw GROUP BY 1, 2),
       |pr AS (SELECT a AS i, b AS j, n FROM gm
       |  UNION ALL SELECT b, a, n FROM gm),
       |wn AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
       |  FROM rw GROUP BY 1),
       |tt AS (SELECT g.item, coalesce(wn.wins, 0) AS wins, g.games
       |  FROM (SELECT i AS item, CAST(sum(n) AS BIGINT) AS games
       |        FROM pr GROUP BY 1) g
       |  LEFT JOIN wn ON g.item = wn.item),
       |t0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS theta FROM tt),
       |$rounds
       |SELECT tt.item AS item, tt.wins, tt.games, t$BtIters.theta
       |FROM tt JOIN t$BtIters ON tt.item = t$BtIters.item""".stripMargin
  }

  // ------------------------------------------------------- logit_irls
  // Oracle-hashed logistic regression: P(returnflag = 'R' | discount,
  // tax) by 3 relational IRLS rounds on the 11×9×2 discrete-feature
  // grid. The oracle UNROLLS the iterations as CTE chains — every
  // weight and working product passes the same DECIMAL quantization,
  // so the fit is bit-identical across engines (the counterpart of the
  // deliberately non-hashable LinearModel.logisticFit).
  def qLogitIrls(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinearModel.logisticIrlsGrid(
      t(s, dir, "lineitem")
        .withColumn("y", (col("l_returnflag") === "R").cast("long")),
      "y", "l_discount", "l_tax", iters = 3)

  private def det3Sql(a: String, b: String, c: String,
      p: String, q: String, r: String,
      x: String, y: String, z: String): String =
    s"$a * ($q * $z - $r * $y) - $b * ($p * $z - $r * $x)" +
      s" + $c * ($p * $y - $q * $x)"

  /** The logistic-IRLS CTE chain over a `grid(x1c, x2c, y, cnt)` CTE —
    * b0i through b$iters, reusable by every query that fits a logistic
    * on a discrete feature grid (q_logit_irls, q_psm). */
  private def irlsChainSql(iters: Int): String = {
    // integer-unit rescaling: cents carry 1e-2 per feature factor,
    // w16 1e-16, wz12 1e-12 (mirrors logisticIrlsGrid's dv()).
    val scales = Seq("sww" -> "1.0e16", "swx1" -> "1.0e18",
      "swx2" -> "1.0e18", "swx11" -> "1.0e20", "swx12" -> "1.0e20",
      "swx22" -> "1.0e20", "swz" -> "1.0e12", "swzx1" -> "1.0e14",
      "swzx2" -> "1.0e14")
    // engine-neutral big-integer → double: exact hi/lo split at 2^53
    // then a fixed-shape double reconstruction (mirrors
    // logisticIrlsGrid's dv() — see its comment on int128→double ulp
    // divergence), then the exact power-of-ten unit division.
    val d = scales.map { case (m, p) =>
      val sgn = s"(CASE WHEN $m < 0 THEN -1.0 WHEN $m = 0 THEN 0.0" +
        " ELSE 1.0 END)"
      val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
      val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
      m -> s"(($sgn * ($hi * 9007199254740992.0 + $lo)) / $p)"
    }.toMap
    val (sww, swx1, swx2) = (d("sww"), d("swx1"), d("swx2"))
    val (swx11, swx12, swx22) = (d("swx11"), d("swx12"), d("swx22"))
    val (swz, swzx1, swzx2) = (d("swz"), d("swzx1"), d("swzx2"))
    val chain = (1 to iters).map { k =>
      val prev = if (k == 1) "b0i" else s"b${k - 1}"
      s"""it$k AS (SELECT g.cnt, g.x1c, g.x2c, g.y,
         |    greatest(least(b.b0
         |      + b.b1 * (CAST(g.x1c AS DOUBLE) / 100.0)
         |      + b.b2 * (CAST(g.x2c AS DOUBLE) / 100.0),
         |      25.0), -25.0) AS etac
         |  FROM grid g CROSS JOIN $prev b),
         |mu$k AS (SELECT *, greatest(least(
         |    CAST(floor((1.0 / (1.0 + exp(-etac))) * 1.0e8) AS BIGINT),
         |    99999999), 1) AS mu8 FROM it$k),
         |w$k AS (SELECT *, mu8 * (100000000 - mu8) AS w16 FROM mu$k),
         |z$k AS (SELECT *, CAST(floor(
         |    (CAST(w16 AS DOUBLE) / 1.0e16) * (etac
         |      + (CAST(y AS DOUBLE) - CAST(mu8 AS DOUBLE) / 1.0e8)
         |        / (CAST(w16 AS DOUBLE) / 1.0e16)) * 1.0e12)
         |    AS BIGINT) AS wz12 FROM w$k),
         |a$k AS (SELECT
         |    sum(CAST(cnt AS HUGEINT) * w16) AS sww,
         |    sum(CAST(cnt AS HUGEINT) * x1c * w16) AS swx1,
         |    sum(CAST(cnt AS HUGEINT) * x2c * w16) AS swx2,
         |    sum(CAST(cnt AS HUGEINT) * x1c * x1c * w16) AS swx11,
         |    sum(CAST(cnt AS HUGEINT) * x1c * x2c * w16) AS swx12,
         |    sum(CAST(cnt AS HUGEINT) * x2c * x2c * w16) AS swx22,
         |    sum(CAST(cnt AS HUGEINT) * wz12) AS swz,
         |    sum(CAST(cnt AS HUGEINT) * x1c * wz12) AS swzx1,
         |    sum(CAST(cnt AS HUGEINT) * x2c * wz12) AS swzx2
         |  FROM z$k),
         |b$k AS (SELECT
         |    CASE WHEN det <> 0.0 THEN det0 / det END AS b0,
         |    CASE WHEN det <> 0.0 THEN det1 / det END AS b1,
         |    CASE WHEN det <> 0.0 THEN det2 / det END AS b2
         |  FROM (SELECT
         |    ${det3Sql(sww, swx1, swx2, swx1, swx11, swx12,
                        swx2, swx12, swx22)} AS det,
         |    ${det3Sql(swz, swx1, swx2, swzx1, swx11, swx12,
                        swzx2, swx12, swx22)} AS det0,
         |    ${det3Sql(sww, swz, swx2, swx1, swzx1, swx12,
                        swx2, swzx2, swx22)} AS det1,
         |    ${det3Sql(sww, swx1, swz, swx1, swx11, swzx1,
                        swx2, swx12, swzx2)} AS det2
         |  FROM a$k))""".stripMargin
    }.mkString(",\n")
    s"""b0i AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |$chain""".stripMargin
  }

  val qLogitIrlsSql: String =
    s"""WITH grid AS (
       |  SELECT
       |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1c,
       |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2c,
       |    CAST(l_returnflag = 'R' AS BIGINT) AS y,
       |    count(*) AS cnt
       |  FROM lineitem
       |  WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
       |    AND l_tax IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |${irlsChainSql(3)}
       |SELECT n, b0, b1, b2
       |FROM (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grid)
       |CROSS JOIN b3""".stripMargin

  // ------------------------------------------------------- huber_irls
  // Robust price-on-(quantity, discount) fit: the Huber weight
  // saturates outlier residuals at delta, so the slope reads the bulk
  // of the data. Libm-free — the oracle unrolls 4 IRLS rounds over the
  // raw rows with the same floor(w*1e8) quantization.
  private val HuberDelta = 20000.0
  private val HuberIters = 4

  def qHuberIrls(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinearModel.huberIrls(t(s, dir, "lineitem"),
      "l_extendedprice", "l_quantity", "l_discount",
      HuberDelta, HuberIters)

  val qHuberIrlsSql: String = {
    val scales = Seq("sww" -> "1.0e8", "swx1" -> "1.0e10",
      "swx2" -> "1.0e10", "swx11" -> "1.0e12", "swx12" -> "1.0e12",
      "swx22" -> "1.0e12", "swy" -> "1.0e10", "swx1y" -> "1.0e12",
      "swx2y" -> "1.0e12")
    val d = scales.map { case (m, p) =>
      val sgn = s"(CASE WHEN $m < 0 THEN -1.0 WHEN $m = 0 THEN 0.0" +
        " ELSE 1.0 END)"
      val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
      val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
      m -> s"(($sgn * ($hi * 9007199254740992.0 + $lo)) / $p)"
    }.toMap
    val (sww, swx1, swx2) = (d("sww"), d("swx1"), d("swx2"))
    val (swx11, swx12, swx22) = (d("swx11"), d("swx12"), d("swx22"))
    val (swy, swx1y, swx2y) = (d("swy"), d("swx1y"), d("swx2y"))
    val iters = (1 to HuberIters).map { k =>
      val prev = if (k == 1) "b0i" else s"b${k - 1}"
      s"""it$k AS (SELECT g.yc, g.x1c, g.x2c,
         |    CAST(g.yc AS DOUBLE) / 100.0 - (b.b0
         |      + b.b1 * (CAST(g.x1c AS DOUBLE) / 100.0)
         |      + b.b2 * (CAST(g.x2c AS DOUBLE) / 100.0)) AS r
         |  FROM rows g CROSS JOIN $prev b),
         |w$k AS (SELECT *, CAST(floor(
         |    (CASE WHEN abs(r) <= $HuberDelta THEN 1.0
         |          ELSE $HuberDelta / abs(r) END) * 1.0e8)
         |    AS BIGINT) AS w8 FROM it$k),
         |a$k AS (SELECT
         |    sum(CAST(w8 AS HUGEINT)) AS sww,
         |    sum(CAST(w8 AS HUGEINT) * x1c) AS swx1,
         |    sum(CAST(w8 AS HUGEINT) * x2c) AS swx2,
         |    sum(CAST(w8 AS HUGEINT) * x1c * x1c) AS swx11,
         |    sum(CAST(w8 AS HUGEINT) * x1c * x2c) AS swx12,
         |    sum(CAST(w8 AS HUGEINT) * x2c * x2c) AS swx22,
         |    sum(CAST(w8 AS HUGEINT) * yc) AS swy,
         |    sum(CAST(w8 AS HUGEINT) * x1c * yc) AS swx1y,
         |    sum(CAST(w8 AS HUGEINT) * x2c * yc) AS swx2y
         |  FROM w$k),
         |b$k AS (SELECT
         |    CASE WHEN det <> 0.0 THEN det0 / det END AS b0,
         |    CASE WHEN det <> 0.0 THEN det1 / det END AS b1,
         |    CASE WHEN det <> 0.0 THEN det2 / det END AS b2
         |  FROM (SELECT
         |    ${det3Sql(sww, swx1, swx2, swx1, swx11, swx12,
                        swx2, swx12, swx22)} AS det,
         |    ${det3Sql(swy, swx1, swx2, swx1y, swx11, swx12,
                        swx2y, swx12, swx22)} AS det0,
         |    ${det3Sql(sww, swy, swx2, swx1, swx1y, swx12,
                        swx2, swx2y, swx22)} AS det1,
         |    ${det3Sql(sww, swx1, swy, swx1, swx11, swx1y,
                        swx2, swx12, swx2y)} AS det2
         |  FROM a$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH rows AS (
       |  SELECT
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS yc,
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1c,
       |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2c
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_discount IS NOT NULL),
       |b0i AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |$iters
       |SELECT n, b0, b1, b2
       |FROM (SELECT count(*) AS n FROM rows)
       |CROSS JOIN b$HuberIters""".stripMargin
  }

  // ------------------------------------------------------------- chow
  // Did the price-on-(quantity, discount) relationship change across
  // mid-1997? Two segment fits + the pooled fit from ONE moment pass;
  // the only cross-row double reduction is a commutative 2-term sum.
  def qChow(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinearModel.chowTest(
      t(s, dir, "lineitem")
        .withColumn("seg", expr("l_shipdate < TIMESTAMP '1997-07-01'")),
      "seg", "l_extendedprice", "l_quantity", "l_discount")

  val qChowSql: String = {
    def det(a: String, b: String, c: String, p: String, q: String,
        r: String, x: String, y: String, z: String) =
      s"$a * ($q * $z - $r * $y) - $b * ($p * $z - $r * $x)" +
        s" + $c * ($p * $y - $q * $x)"
    def sse(pre: String) = {
      def m(s: String) = s"$pre$s"
      s"""${m("syy")} - 2.0 * (${m("b0")} * ${m("sy")} + ${m("b1")} * ${m("s1y")} + ${m("b2")} * ${m("s2y")})
         | + (${m("b0")} * (${m("nd")} * ${m("b0")} + ${m("s1")} * ${m("b1")} + ${m("s2")} * ${m("b2")})
         | + ${m("b1")} * (${m("s1")} * ${m("b0")} + ${m("s11")} * ${m("b1")} + ${m("s12")} * ${m("b2")})
         | + ${m("b2")} * (${m("s2")} * ${m("b0")} + ${m("s12")} * ${m("b1")} + ${m("s22")} * ${m("b2")}))"""
        .stripMargin.replace("\n", "")
    }
    def dets(pre: String) = Seq(
      s"${pre}det" -> det(s"${pre}nd", s"${pre}s1", s"${pre}s2",
        s"${pre}s1", s"${pre}s11", s"${pre}s12",
        s"${pre}s2", s"${pre}s12", s"${pre}s22"),
      s"${pre}det0" -> det(s"${pre}sy", s"${pre}s1", s"${pre}s2",
        s"${pre}s1y", s"${pre}s11", s"${pre}s12",
        s"${pre}s2y", s"${pre}s12", s"${pre}s22"),
      s"${pre}det1" -> det(s"${pre}nd", s"${pre}sy", s"${pre}s2",
        s"${pre}s1", s"${pre}s1y", s"${pre}s12",
        s"${pre}s2", s"${pre}s2y", s"${pre}s22"),
      s"${pre}det2" -> det(s"${pre}nd", s"${pre}s1", s"${pre}sy",
        s"${pre}s1", s"${pre}s11", s"${pre}s1y",
        s"${pre}s2", s"${pre}s12", s"${pre}s2y"))
      .map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    s"""WITH a AS (
       |  SELECT (l_shipdate < TIMESTAMP '1997-07-01') AS seg,
       |    count(*) AS n,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
       |    sum(CAST(l_discount AS DECIMAL(18,2))) AS s2,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_quantity AS DECIMAL(18,2))) AS s11,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s12,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2))) AS s22,
       |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
       |    sum(CAST(l_discount AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_discount IS NOT NULL
       |  GROUP BY 1),
       |g AS (SELECT *,
       |  sum(n) OVER () AS gn, sum(s1) OVER () AS gs1,
       |  sum(s2) OVER () AS gs2, sum(sy) OVER () AS gsy,
       |  sum(s11) OVER () AS gs11, sum(s12) OVER () AS gs12,
       |  sum(s22) OVER () AS gs22, sum(s1y) OVER () AS gs1y,
       |  sum(s2y) OVER () AS gs2y, sum(syy) OVER () AS gsyy FROM a),
       |l AS (SELECT n,
       |  CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
       |  CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
       |  CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
       |  CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y,
       |  CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy,
       |  CAST(gn AS DOUBLE) AS pnd, CAST(gs1 AS DOUBLE) AS ps1,
       |  CAST(gs2 AS DOUBLE) AS ps2, CAST(gsy AS DOUBLE) AS psy,
       |  CAST(gs11 AS DOUBLE) AS ps11, CAST(gs12 AS DOUBLE) AS ps12,
       |  CAST(gs22 AS DOUBLE) AS ps22, CAST(gs1y AS DOUBLE) AS ps1y,
       |  CAST(gs2y AS DOUBLE) AS ps2y, CAST(gsyy AS DOUBLE) AS psyy
       |  FROM g),
       |d AS (SELECT *,
       |    ${dets("")},
       |    ${dets("p")}
       |  FROM l),
       |c AS (SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2,
       |    pdet0/pdet AS pb0, pdet1/pdet AS pb1, pdet2/pdet AS pb2
       |  FROM d),
       |e AS (SELECT n, det, pdet,
       |    ${sse("")} AS sse_s,
       |    ${sse("p").replace("pnd", "pnd")} AS sse_p
       |  FROM c),
       |fin AS (SELECT count(*) AS n_segments, CAST(sum(n) AS BIGINT) AS n,
       |    sum(CASE WHEN det <> 0.0 THEN sse_s END) AS sse_segments,
       |    min(CASE WHEN det <> 0.0 THEN 1 ELSE 0 END) AS ok,
       |    max(CASE WHEN pdet <> 0.0 THEN sse_p END) AS sse_pooled
       |  FROM e)
       |SELECT n, n_segments, sse_pooled, sse_segments,
       |  CASE WHEN n_segments = 2 AND ok = 1
       |      AND sse_pooled IS NOT NULL AND n > 6
       |      AND sse_segments > 0.0 THEN
       |    ((sse_pooled - sse_segments) / 3.0)
       |      / (sse_segments / (CAST(n AS DOUBLE) - 6.0)) END AS f
       |FROM fin""".stripMargin
  }

  // ------------------------------------------------------------------ psm
  // Propensity-score matching end to end (the causal family's third
  // leg beside q_did/q_cuped): per-user treatment = "more errors than
  // signups", covariates = capped activity volume/spread, propensity
  // linear index from the SAME 3-round relational IRLS as
  // q_logit_irls (the chain SQL is shared), floor-quantized to micro;
  // PropensityMatch.nearestByScore then 1:1-matches treated to nearest
  // control within a caliper via the banded-bucket join (no global
  // sort), and matched pairs carry the outcome difference. Every
  // matching decision is integer arithmetic over the quantized index,
  // so the full composite hash-checks.
  private val PsmCaliper = 50000L // 0.05 linear-index units, in micro

  def qPsm(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        (count(when(col("event_type") === "error", 1)) >
          count(when(col("event_type") === "signup", 1)))
          .cast("long").as("treat"),
        sum((coalesce(col("value"), lit(0.0)).cast("decimal(18,2)") * 100)
          .cast("long")).as("y_cents"))
      .select(col("user_id"),
        least(col("n_ev"), lit(99L)).cast("double").as("x1"),
        least(col("n_days"), lit(30L)).cast("double").as("x2"),
        col("treat"), col("y_cents"))
    val u = graft.core.CacheScope.session.retain(users)
    val beta = graft.operators.LinearModel.logisticIrlsGrid(
      u, "treat", "x1", "x2", iters = 3)
    def cts(c: String) = (col(c).cast("decimal(18,2)") * 100).cast("long")
    val eta = col("b0") +
      col("b1") * (col("__x1c").cast("double") / lit(100.0)) +
      col("b2") * (col("__x2c").cast("double") / lit(100.0))
    val sc = graft.core.CacheScope.session.retain(
      u.crossJoin(broadcast(beta.select(col("b0"), col("b1"), col("b2"))))
        .withColumn("__x1c", cts("x1")).withColumn("__x2c", cts("x2"))
        .withColumn("eta_micro", floor(eta * lit(1.0e6)).cast("long"))
        .select(col("user_id"), col("treat"), col("eta_micro"),
          col("y_cents")))
    graft.operators.PropensityMatch.nearestByScore(
        sc, "user_id", "treat", "eta_micro", PsmCaliper)
      .join(sc.select(col("user_id").as("id_t"), col("y_cents").as("__yt")),
        Seq("id_t"))
      .join(sc.select(col("user_id").as("id_c"), col("y_cents").as("__yc")),
        Seq("id_c"))
      .select(col("id_t").as("user_t"), col("id_c").as("user_c"),
        col("score_t"), col("score_c"), col("dist"),
        (col("__yt") - col("__yc")).as("dy_cents"))
  }

  val qPsmSql: String = {
    val cal = PsmCaliper
    def etaSql(a: String) =
      s"""CAST(floor((b.b0
         |    + b.b1 * (CAST(CAST(CAST($a.x1 AS DECIMAL(18,2)) * 100
         |        AS BIGINT) AS DOUBLE) / 100.0)
         |    + b.b2 * (CAST(CAST(CAST($a.x2 AS DECIMAL(18,2)) * 100
         |        AS BIGINT) AS DOUBLE) / 100.0)) * 1.0e6) AS BIGINT)""".stripMargin
    s"""WITH users AS (
       |  SELECT user_id,
       |    CAST(count(*) AS BIGINT) AS n_ev,
       |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       |    CAST(count(*) FILTER (event_type = 'error') >
       |         count(*) FILTER (event_type = 'signup') AS BIGINT) AS treat,
       |    CAST(sum(CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS y_cents
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |u AS (SELECT user_id,
       |    CAST(least(n_ev, 99) AS DOUBLE) AS x1,
       |    CAST(least(n_days, 30) AS DOUBLE) AS x2, treat, y_cents
       |  FROM users),
       |grid AS (
       |  SELECT CAST(CAST(x1 AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1c,
       |    CAST(CAST(x2 AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2c,
       |    treat AS y, count(*) AS cnt
       |  FROM u GROUP BY 1, 2, 3),
       |${irlsChainSql(3)},
       |sc AS (SELECT u.user_id, u.treat, u.y_cents,
       |    ${etaSql("u")} AS eta
       |  FROM u CROSS JOIN b3 b),
       |tr AS (SELECT user_id AS id_t, eta AS score_t, y_cents AS yt,
       |    (eta - ((eta % $cal + $cal) % $cal)) // $cal AS bk
       |  FROM sc WHERE treat = 1),
       |ct AS (SELECT user_id AS id_c, eta AS score_c, y_cents AS yc,
       |    (eta - ((eta % $cal + $cal) % $cal)) // $cal AS bk
       |  FROM sc WHERE treat = 0),
       |cand AS (
       |  SELECT t.id_t, c.id_c, t.score_t, c.score_c,
       |    abs(t.score_t - c.score_c) AS dist, t.yt, c.yc
       |  FROM tr t JOIN ct c ON c.bk BETWEEN t.bk - 1 AND t.bk + 1
       |  WHERE abs(t.score_t - c.score_c) <= $cal),
       |best AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY id_t
       |    ORDER BY dist, id_c) AS rn FROM cand) WHERE rn = 1)
       |SELECT id_t AS user_t, id_c AS user_c, score_t, score_c, dist,
       |  yt - yc AS dy_cents
       |FROM best""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_logit_irls", qLogitIrls, qLogitIrlsSql),
    Query("q_psm", qPsm, qPsmSql),
    Query("q_huber_irls", qHuberIrls, qHuberIrlsSql),
    Query("q_chow", qChow, qChowSql),
    Query("q_bradley_terry", qBradleyTerry, qBradleyTerrySql),
    Query("q_ndcg", qNdcg, qNdcgSql),
    Query("q_avg_precision", qAvgPrecision, qAvgPrecisionSql),
    Query("q_ridge_fit", qRidgeFit, qRidgeFitSql),
    Query("q_ridge_state", qRidgeState, qRidgeFitSql),
    Query("q_cv_ridge", qCvRidge, qCvRidgeSql),
    Query("q_conformal", qConformal, qConformalSql),
    Query("q_label_prop", qLabelProp, qLabelPropSql),
    Query("q_auc", qAuc, qAucSql),
    Query("q_calibration", qCalibration, qCalibrationSql),
    Query("q_isotonic", qIsotonic, qIsotonicSql),
    Query("q_confusion", qConfusion, qConfusionSql),
  )
}
