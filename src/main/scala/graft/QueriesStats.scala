package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Imputation, Stats}

/** Round-8 query group: grouped statistics with engine-exact contracts
  * (decimal partial sums + fixed-shape double formulas — see
  * operators.Stats scaladoc for why built-in corr/covar can't be
  * oracle-checked).
  */
object QueriesStats {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------------------- corr
  // Quantity↔price correlation per return flag. The oracle replays the
  // identical decimal partials and double formula; hash agreement means
  // bit-equal correlation coefficients.
  def qCorr(s: SparkSession, dir: String): DataFrame =
    Stats.corrByKey(t(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_extendedprice")

  val qCorrSql: String =
    """WITH a AS (
      |  SELECT l_returnflag AS k, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |        CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |  GROUP BY 1)
      |SELECT k AS l_returnflag, n,
      |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
      |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  END AS corr
      |FROM a""".stripMargin

  // ------------------------------------------------------------ chisq
  // lang × source contingency cells with expected counts and chi²
  // contributions. Per-cell output only: the total statistic is a
  // double sum (reduction-order-dependent), so the exact contract stops
  // at cells.
  def qChisq(s: SparkSession, dir: String): DataFrame =
    Stats.chiSquareCells(t(s, dir, "documents"), "lang", "source")

  val qChisqSql: String = {
    val e = "CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)" +
      " / CAST(g.grand_total AS DOUBLE)"
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS obs FROM documents
       |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
       |rt AS (SELECT lang, sum(obs) AS row_total FROM cells GROUP BY 1),
       |ct AS (SELECT source, sum(obs) AS col_total FROM cells GROUP BY 1),
       |g AS (SELECT sum(obs) AS grand_total FROM cells)
       |SELECT c.lang, c.source, CAST(c.obs AS BIGINT) AS obs,
       |  $e AS expected,
       |  (CAST(c.obs AS DOUBLE) - $e) * (CAST(c.obs AS DOUBLE) - $e)
       |    / ($e) AS contrib
       |FROM cells c
       |JOIN rt ON c.lang = rt.lang
       |JOIN ct ON c.source = ct.source
       |CROSS JOIN g""".stripMargin
  }

  // ------------------------------------------------------------ trend
  // Per-user OLS trend of event value over time (x = epoch day of ts):
  // the engagement-drift detector. Same exactness contract as corr.
  def qTrend(s: SparkSession, dir: String): DataFrame =
    Stats.trendByKey(
      t(s, dir, "events").withColumn("day_idx",
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))),
      "user_id", "day_idx", "value")

  val qTrendSql: String =
    """WITH a AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |        AS DECIMAL(18,2))) AS sx,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sy,
      |    sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |        AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxy,
      |    sum(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |        AS DECIMAL(18,2)) *
      |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |        AS DECIMAL(18,2))) AS sxx
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1)
      |SELECT user_id, n,
      |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |  END AS slope,
      |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      |  THEN (CAST(sy AS DOUBLE)
      |        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |          * CAST(sx AS DOUBLE))
      |       / CAST(n AS DOUBLE)
      |  END AS intercept
      |FROM a""".stripMargin

  // -------------------------------------------------------- winsorize
  // Per-flag price clipping to exact [p05, p95] rank-select quantiles
  // (deterministic tie column keeps duplicate prices ordered). The
  // oracle replays the rank-select and the greatest/least clip.
  def qWinsorize(s: SparkSession, dir: String): DataFrame =
    Imputation.winsorize(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"))
        .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_returnflag", "l_extendedprice", "lid", 0.05, 0.95)
      .drop("lid")

  val qWinsorizeSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |    l_orderkey * 8 + l_linenumber AS lid
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag AS k, l_extendedprice AS v, lid,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, lid) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM src),
      |q AS (
      |  SELECT k, p, v AS q FROM r CROSS JOIN (
      |    SELECT CAST(p AS DOUBLE) AS p FROM (
      |      VALUES (CAST(0.05 AS DOUBLE)), (CAST(0.95 AS DOUBLE))) t(p))
      |  WHERE rn = CAST(ceil(p * n) AS BIGINT)),
      |b AS (
      |  SELECT k, min(CASE WHEN p = 0.05 THEN q END) AS lo,
      |         min(CASE WHEN p = 0.95 THEN q END) AS hi
      |  FROM q GROUP BY k)
      |SELECT s.l_orderkey, s.l_linenumber, s.l_returnflag, s.l_extendedprice,
      |  greatest(least(s.l_extendedprice, b.hi), b.lo) AS l_extendedprice_w
      |FROM src s JOIN b ON s.l_returnflag = b.k""".stripMargin

  // ----------------------------------------------------------- impute
  // Mode imputation: market segments nulled for every 7th customer are
  // refilled with the per-nation mode (ties to the smallest segment).
  def qImpute(s: SparkSession, dir: String): DataFrame =
    Imputation.imputeMode(
      t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("seg")),
      "c_nationkey", "seg")

  val qImputeSql: String =
    """WITH src AS (
      |  SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      |  FROM customer),
      |m AS (
      |  SELECT c_nationkey, seg AS mode_seg FROM (
      |    SELECT c_nationkey, seg,
      |      row_number() OVER (PARTITION BY c_nationkey
      |        ORDER BY count(*) DESC, seg) AS rn
      |    FROM src WHERE seg IS NOT NULL GROUP BY c_nationkey, seg)
      |  WHERE rn = 1)
      |SELECT s.c_custkey, s.c_nationkey, coalesce(s.seg, m.mode_seg) AS seg
      |FROM src s LEFT JOIN m ON s.c_nationkey = m.c_nationkey""".stripMargin

  // ------------------------------------------------------------ paths
  // Product-analytics path mining: each user-day's ordered event-type
  // sequence, counted corpus-wide, top-50 most common journeys. The
  // per-day path is built with a deterministic in-group sort
  // (array_sort over (ts, event_id) structs — no collect-order
  // dependence); DuckDB replays with ORDER BY inside string_agg.
  def qPaths(s: SparkSession, dir: String): DataFrame = {
    val byDay = t(s, dir, "events")
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("tsu"),
            col("event_id").as("eid"),
            col("event_type").as("et")))),
          x => x.getField("et"))).as("path"))
    byDay.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(50)
  }

  val qPathsSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM events GROUP BY 1, 2)
      |SELECT path, count(*) AS n FROM p GROUP BY path
      |ORDER BY n DESC, path LIMIT 50""".stripMargin

  // -------------------------------------------------------- histogram
  // Equi-width histogram of document lengths: fixed literal origin and
  // width make the bin function a one-pass map expression (no
  // min/max pre-scan), integer arithmetic exact in both engines.
  private val HistWidth = 500L

  def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(floor(col("n_chars") / HistWidth).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select((col("bin") * HistWidth).as("bin_lo"),
        ((col("bin") + 1) * HistWidth).as("bin_hi"), col("n"))

  val qHistogramSql: String =
    s"""SELECT (n_chars // $HistWidth) * $HistWidth AS bin_lo,
       |  ((n_chars // $HistWidth) + 1) * $HistWidth AS bin_hi,
       |  count(*) AS n
       |FROM documents GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- welch
  // Daily A/B comparison of click vs purchase event values — Welch t
  // and Welch–Satterthwaite df per day, decimal partials + fixed-shape
  // double formulas (bit-replayable; see Stats.welchByKey).
  def qWelch(s: SparkSession, dir: String): DataFrame =
    Stats.welchByKey(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      "day", "event_type", "click", "purchase", "value")

  val qWelchSql: String =
    """WITH src AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    CAST(value AS DECIMAL(18,2)) AS dv
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
      |a AS (
      |  SELECT day,
      |    count(*) FILTER (WHERE event_type = 'click') AS na,
      |    sum(dv) FILTER (WHERE event_type = 'click') AS sxa,
      |    sum(dv * dv) FILTER (WHERE event_type = 'click') AS sxxa,
      |    count(*) FILTER (WHERE event_type = 'purchase') AS nb,
      |    sum(dv) FILTER (WHERE event_type = 'purchase') AS sxb,
      |    sum(dv * dv) FILTER (WHERE event_type = 'purchase') AS sxxb
      |  FROM src GROUP BY 1),
      |m AS (
      |  SELECT day, na, nb,
      |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
      |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
      |    (CAST(na AS DOUBLE) * CAST(sxxa AS DOUBLE)
      |      - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
      |      / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))
      |      / CAST(na AS DOUBLE) AS sea,
      |    (CAST(nb AS DOUBLE) * CAST(sxxb AS DOUBLE)
      |      - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
      |      / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))
      |      / CAST(nb AS DOUBLE) AS seb
      |  FROM a)
      |SELECT day, na AS n_a, nb AS n_b,
      |  CASE WHEN na > 0 THEN ma END AS mean_a,
      |  CASE WHEN nb > 0 THEN mb END AS mean_b,
      |  CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
      |    THEN (ma - mb) / sqrt(sea + seb) END AS t,
      |  CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
      |    THEN ((sea + seb) * (sea + seb))
      |      / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
      |         + seb * seb / (CAST(nb AS DOUBLE) - 1.0)) END AS df
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- ks
  // Two-sample KS: did click values and purchase values come from the
  // same distribution? Running ECDFs over the pooled distinct values,
  // max |difference| — engine-exact (see Stats.ksStatistic).
  def qKs(s: SparkSession, dir: String): DataFrame =
    Stats.ksStatistic(t(s, dir, "events"),
      "event_type", "click", "purchase", "value")

  val qKsSql: String =
    """WITH pv AS (
      |  SELECT value,
      |    count(*) FILTER (WHERE event_type = 'click') AS ca,
      |    count(*) FILTER (WHERE event_type = 'purchase') AS cb
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |cum AS (
      |  SELECT
      |    sum(ca) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    sum(cb) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM pv),
      |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pv)
      |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
      |  max(abs(CAST(cum.cuma AS DOUBLE) / CAST(t.na AS DOUBLE)
      |    - CAST(cum.cumb AS DOUBLE) / CAST(t.nb AS DOUBLE))) AS ks
      |FROM cum CROSS JOIN t
      |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------- gini
  // Concentration of document length per source — is one source's
  // volume dominated by a few huge documents? Integer rank-weighted
  // sums, one closing fixed-shape expression.
  def qGini(s: SparkSession, dir: String): DataFrame =
    Stats.giniByKey(t(s, dir, "documents"), "source", "n_chars", "doc_id")

  val qGiniSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS i
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
      |a AS (
      |  SELECT source, count(*) AS n, sum(n_chars) AS s,
      |    sum(i * n_chars) AS ws
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n > 1 AND s > 0 THEN
      |    CAST(2 * ws AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
      |      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END AS gini
      |FROM a""".stripMargin

  // ------------------------------------------------------- mann-whitney
  // Distribution-free click-vs-purchase value comparison per day. The
  // oracle replays the doubled-mid-rank construction (integer-exact rank
  // sums and tie correction) and the fixed-shape z formula — hash
  // agreement means bit-equal U and z.
  def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    Stats.mannWhitneyByKey(
      t(s, dir, "events").withColumn("day",
        date_format(col("ts"), "yyyy-MM-dd")),
      "day", "event_type", "click", "purchase", "value")

  val qMannWhitneySql: String =
    """WITH pv AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, value AS v,
      |    count(*) FILTER (event_type = 'click') AS ca,
      |    count(*) FILTER (event_type = 'purchase') AS cb
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT day, ca, cb,
      |    COALESCE(sum(ca + cb) OVER (PARTITION BY day ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM pv),
      |agg AS (
      |  SELECT day, CAST(sum(ca) AS BIGINT) AS n_a,
      |    CAST(sum(cb) AS BIGINT) AS n_b,
      |    sum(CAST(ca AS HUGEINT) *
      |        (CAST(cum AS HUGEINT) * 2 + CAST(ca + cb AS HUGEINT) + 1)) AS r2a,
      |    sum(CAST(ca + cb AS HUGEINT) * CAST(ca + cb AS HUGEINT) *
      |        CAST(ca + cb AS HUGEINT) - CAST(ca + cb AS HUGEINT)) AS ties
      |  FROM cum GROUP BY 1)
      |SELECT day, n_a, n_b,
      |  CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1)
      |       AS DOUBLE) / 2.0 AS u,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND
      |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |      ((CAST(n_a + n_b AS DOUBLE) + 1.0)
      |       - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
      |         * (CAST(n_a + n_b AS DOUBLE) - 1.0))) > 0.0
      |  THEN (CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1)
      |          AS DOUBLE) / 2.0
      |        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
      |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |      ((CAST(n_a + n_b AS DOUBLE) + 1.0)
      |       - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
      |         * (CAST(n_a + n_b AS DOUBLE) - 1.0))))
      |  END AS z
      |FROM agg""".stripMargin

  // ----------------------------------------------------------- spearman
  // Rank correlation of quantity vs price per return flag — the robust
  // companion to q_corr (same final formula shape, but over exact
  // integer doubled mid-ranks, so monotone-but-nonlinear relations and
  // outliers are handled). rank()+reverse-rank() tie identity on both
  // engines.
  def qSpearman(s: SparkSession, dir: String): DataFrame =
    Stats.spearmanByKey(t(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_extendedprice")

  val qSpearmanSql: String =
    """WITH base AS (
      |  SELECT l_returnflag AS k, l_quantity AS x, l_extendedprice AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |r AS (
      |  SELECT k,
      |    rank() OVER (PARTITION BY k ORDER BY x ASC)
      |      + (count(*) OVER (PARTITION BY k) + 1)
      |      - rank() OVER (PARTITION BY k ORDER BY x DESC) AS rx,
      |    rank() OVER (PARTITION BY k ORDER BY y ASC)
      |      + (count(*) OVER (PARTITION BY k) + 1)
      |      - rank() OVER (PARTITION BY k ORDER BY y DESC) AS ry
      |  FROM base),
      |a AS (
      |  SELECT k, count(*) AS n,
      |    sum(CAST(rx AS HUGEINT)) AS sx, sum(CAST(ry AS HUGEINT)) AS sy,
      |    sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
      |    sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
      |    sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
      |  FROM r GROUP BY 1)
      |SELECT k AS l_returnflag, n,
      |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
      |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  END AS rho
      |FROM a""".stripMargin

  // ------------------------------------------------------ feature scaling
  // Per-group min-max and z-score standardization — the model-input
  // scaling step, from ONE stats aggregation broadcast back onto the
  // rows. Moments are exact decimals; both scaled values are fixed-shape
  // double expressions (population std as sqrt(n·Σx² − (Σx)²)/n);
  // degenerate groups (constant value) gate to null.
  def qScaleFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      min(d(col("value"))).as("mn"), max(d(col("value"))).as("mx"),
      sum(d(col("value"))).as("s"),
      sum(d(col("value")) * d(col("value"))).as("sxx"))
    val n = col("n").cast("double")
    val x = col("value").cast("double")
    val mn = col("mn").cast("double")
    val mx = col("mx").cast("double")
    val mean = col("s").cast("double") / n
    val std = sqrt(n * col("sxx").cast("double") -
      col("s").cast("double") * col("s").cast("double")) / n
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), x.as("value"),
        when(col("mx") =!= col("mn"), (x - mn) / (mx - mn)).as("minmax"),
        when(std > 0.0, (x - mean) / std).as("zscore"))
  }

  val qScaleFeaturesSql: String =
    """WITH st AS (
      |  SELECT event_type, count(*) AS n,
      |    min(CAST(value AS DECIMAL(18,2))) AS mn,
      |    max(CAST(value AS DECIMAL(18,2))) AS mx,
      |    sum(CAST(value AS DECIMAL(18,2))) AS s,
      |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
      |      AS sxx
      |  FROM events WHERE value IS NOT NULL GROUP BY 1)
      |SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
      |  CASE WHEN st.mx <> st.mn THEN
      |    (CAST(e.value AS DOUBLE) - CAST(st.mn AS DOUBLE))
      |      / (CAST(st.mx AS DOUBLE) - CAST(st.mn AS DOUBLE)) END
      |    AS minmax,
      |  CASE WHEN sqrt(CAST(st.n AS DOUBLE) * CAST(st.sxx AS DOUBLE)
      |        - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
      |        / CAST(st.n AS DOUBLE) > 0.0
      |  THEN (CAST(e.value AS DOUBLE)
      |        - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
      |    / (sqrt(CAST(st.n AS DOUBLE) * CAST(st.sxx AS DOUBLE)
      |        - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
      |       / CAST(st.n AS DOUBLE))
      |  END AS zscore
      |FROM events e JOIN st ON e.event_type = st.event_type
      |WHERE e.value IS NOT NULL""".stripMargin

  // ------------------------------------------------------------- registry
  // --------------------------------------------------- bootstrap SE
  // Poisson-bootstrap standard error of mean(value) per event type
  // (operators.Bootstrap): 32 replicates in one pass, weights drawn
  // deterministically from md5 against integer Poisson(1) CDF
  // thresholds. The oracle rebuilds the identical replicate table —
  // same thresholds, same decimal roundings, same double formula — so
  // hash agreement pins the whole uncertainty pipeline.
  private val BootReps = 32

  def qBootstrapSe(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bootstrap.groupedMeanSe(t(s, dir, "events"),
      "event_id", "value", Seq("event_type"), BootReps)

  val qBootstrapSeSql: String = {
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    val h = hexFold(
      "substr(md5(CAST(event_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), 1, 8)")
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L,
      4294962463L)
    val caseChain = thresholds.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }
      .mkString(" ")
    s"""WITH seeds AS (SELECT unnest([${(0 until BootReps).mkString(", ")}]) AS rep),
       |hw AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS x, rep,
       |    $h AS h
       |  FROM events CROSS JOIN seeds WHERE value IS NOT NULL),
       |w AS (SELECT event_type, x, rep,
       |    CASE $caseChain ELSE 9 END AS w FROM hw),
       |rm AS (SELECT event_type, rep,
       |    CAST(CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
       |      AS DECIMAL(20,12)) AS mean_r
       |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
       |sq AS (SELECT event_type,
       |    CAST(CAST(mean_r AS DOUBLE) AS DECIMAL(20,6)) AS m6,
       |    CAST(CAST(mean_r AS DOUBLE) * CAST(mean_r AS DOUBLE)
       |      AS DECIMAL(20,6)) AS m2
       |  FROM rm),
       |spread AS (SELECT event_type, count(*) AS r_used,
       |    sum(m6) AS s, sum(m2) AS ss FROM sq GROUP BY 1),
       |base AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS mean_val
       |  FROM events WHERE value IS NOT NULL GROUP BY 1)
       |SELECT b.event_type, b.n, b.mean_val,
       |  CASE WHEN r_used > 1 THEN sqrt(greatest(0.0,
       |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |       / CAST(r_used AS DOUBLE)) / (CAST(r_used AS DOUBLE) - 1.0)))
       |  END AS se_boot, r_used
       |FROM base b JOIN spread USING (event_type)""".stripMargin
  }

  // ------------------------------------------------- correlation matrix
  // All-pairs correlation of four lineitem measures in ONE scan
  // (Stats.corrMatrix): the oracle replays each pair with the identical
  // decimal partials and double formula as qCorr, one UNION ALL branch
  // per pair.
  private val CorrMatrixCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    Stats.corrMatrix(t(s, dir, "lineitem"), CorrMatrixCols)

  val qCorrMatrixSql: String = {
    def branch(a: String, b: String) =
      s"""SELECT '$a' AS col_x, '$b' AS col_y, count(*) AS n,
         |  CASE WHEN (CAST(count(*) AS DOUBLE)
         |         * CAST(sum(CAST($a AS DECIMAL(18,2)) * CAST($a AS DECIMAL(18,2))) AS DOUBLE)
         |         - CAST(sum(CAST($a AS DECIMAL(18,2))) AS DOUBLE)
         |           * CAST(sum(CAST($a AS DECIMAL(18,2))) AS DOUBLE)) > 0
         |    AND (CAST(count(*) AS DOUBLE)
         |         * CAST(sum(CAST($b AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)
         |         - CAST(sum(CAST($b AS DECIMAL(18,2))) AS DOUBLE)
         |           * CAST(sum(CAST($b AS DECIMAL(18,2))) AS DOUBLE)) > 0
         |  THEN (CAST(count(*) AS DOUBLE)
         |         * CAST(sum(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)
         |         - CAST(sum(CAST($a AS DECIMAL(18,2))) AS DOUBLE)
         |           * CAST(sum(CAST($b AS DECIMAL(18,2))) AS DOUBLE))
         |       / (sqrt(CAST(count(*) AS DOUBLE)
         |           * CAST(sum(CAST($a AS DECIMAL(18,2)) * CAST($a AS DECIMAL(18,2))) AS DOUBLE)
         |           - CAST(sum(CAST($a AS DECIMAL(18,2))) AS DOUBLE)
         |             * CAST(sum(CAST($a AS DECIMAL(18,2))) AS DOUBLE))
         |        * sqrt(CAST(count(*) AS DOUBLE)
         |           * CAST(sum(CAST($b AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)
         |           - CAST(sum(CAST($b AS DECIMAL(18,2))) AS DOUBLE)
         |             * CAST(sum(CAST($b AS DECIMAL(18,2))) AS DOUBLE)))
         |  END AS corr
         |FROM lineitem WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
    (for {
      i <- CorrMatrixCols.indices; j <- (i + 1) until CorrMatrixCols.size
    } yield branch(CorrMatrixCols(i), CorrMatrixCols(j)))
      .mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------------------- CUPED
  // Variance-reduced A/B readout (operators.Cuped): units are users,
  // variant is a deterministic user-id split, the covariate is each
  // user's first-half activity and the outcome the second-half — the
  // canonical "pre-period predicts post-period" setup. Counts are
  // integers, so the decimal moments are exact and theta / adjusted
  // means / rho-squared replay bit-equal from the same fixed formula
  // shapes.
  private val CupedCut = "2024-01-16"

  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(CupedCut).cast("timestamp")
    val units = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    graft.operators.Cuped.adjustedMeans(units, "variant", "y", "x")
  }

  val qCupedSql: String = {
    def D(c: String) = s"CAST($c AS DOUBLE)"
    val varX = s"(${D("p_n")} * ${D("p_sxx")} - ${D("p_sx")} * ${D("p_sx")})"
    val varY = s"(${D("p_n")} * ${D("p_syy")} - ${D("p_sy")} * ${D("p_sy")})"
    val cov = s"(${D("p_n")} * ${D("p_sxy")} - ${D("p_sx")} * ${D("p_sy")})"
    s"""WITH units AS (
       |  SELECT user_id,
       |    CAST(user_id % 2 AS INT) AS variant,
       |    sum(CASE WHEN ts < TIMESTAMP '$CupedCut' THEN 1 ELSE 0 END)
       |      AS x,
       |    sum(CASE WHEN ts >= TIMESTAMP '$CupedCut' THEN 1 ELSE 0 END)
       |      AS y
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |per AS (
       |  SELECT variant, count(*) AS n,
       |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS sxy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS sxx,
       |    sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS syy
       |  FROM units GROUP BY 1),
       |pooled AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS p_n, sum(sx) AS p_sx,
       |    sum(sy) AS p_sy, sum(sxy) AS p_sxy, sum(sxx) AS p_sxx,
       |    sum(syy) AS p_syy
       |  FROM per)
       |SELECT variant, n,
       |  ${D("sy")} / ${D("n")} AS mean_y,
       |  CASE WHEN $varX > 0 THEN
       |    ${D("sy")} / ${D("n")} - ($cov / $varX) *
       |      (${D("sx")} / ${D("n")} - ${D("p_sx")} / ${D("p_n")})
       |  END AS mean_y_adj,
       |  CASE WHEN $varX > 0 THEN $cov / $varX END AS theta,
       |  CASE WHEN $varX > 0 AND $varY > 0 THEN
       |    ($cov * $cov) / ($varX * $varY)
       |  END AS var_reduction
       |FROM per CROSS JOIN pooled""".stripMargin
  }

  // -------------------------------------------------------------- did
  // Difference-in-differences readout over the same synthetic rollout
  // as q_cuped: treatment = user parity, post = after the cut, outcome
  // = event value. One global aggregate of 12 conditional decimal
  // partials, then fixed-shape doubles — did and its Welch-style SE
  // replay bit-equal.
  def qDid(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(CupedCut).cast("timestamp")
    graft.operators.Cuped.diffInDiff(
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(pmod(col("user_id"), lit(2)).cast("int").as("treat"),
          when(col("ts") >= cut, 1).otherwise(0).as("post"),
          col("value")),
      "treat", "post", "value")
  }

  val qDidSql: String = {
    def D(c: String) = s"CAST($c AS DOUBLE)"
    def cell(cond: String, sfx: String) =
      s"""CAST(sum(CASE WHEN $cond AND value IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_$sfx,
         |    sum(CASE WHEN $cond THEN CAST(value AS DECIMAL(18,2)) END)
         |      AS sy_$sfx,
         |    sum(CASE WHEN $cond THEN CAST(value AS DECIMAL(18,2)) *
         |        CAST(value AS DECIMAL(18,2)) END) AS syy_$sfx""".stripMargin
    def mean(sfx: String) = s"${D(s"sy_$sfx")} / ${D(s"n_$sfx")}"
    def varTerm(sfx: String) =
      s"(${D(s"syy_$sfx")} - ${D(s"sy_$sfx")} * ${D(s"sy_$sfx")} / " +
        s"${D(s"n_$sfx")}) / (${D(s"n_$sfx")} - 1.0) / ${D(s"n_$sfx")}"
    val cells = Seq("c0", "c1", "t0", "t1")
    val nonEmpty = cells.map(s => s"n_$s > 0").mkString(" AND ")
    val seOk = cells.map(s => s"n_$s > 1").mkString(" AND ")
    s"""WITH a AS (
       |  SELECT
       |    ${cell("user_id % 2 = 0 AND ts < TIMESTAMP '" + CupedCut + "'", "c0")},
       |    ${cell("user_id % 2 = 0 AND ts >= TIMESTAMP '" + CupedCut + "'", "c1")},
       |    ${cell("user_id % 2 = 1 AND ts < TIMESTAMP '" + CupedCut + "'", "t0")},
       |    ${cell("user_id % 2 = 1 AND ts >= TIMESTAMP '" + CupedCut + "'", "t1")}
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
       |SELECT ${cells.map(s =>
            s"n_$s, CASE WHEN n_$s > 0 THEN ${mean(s)} END AS mean_$s")
            .mkString(",\n  ")},
       |  CASE WHEN $nonEmpty THEN
       |    (${mean("t1")} - ${mean("t0")}) - (${mean("c1")} - ${mean("c0")})
       |  END AS did,
       |  CASE WHEN $seOk THEN
       |    sqrt(${varTerm("t1")} + ${varTerm("t0")} +
       |      ${varTerm("c1")} + ${varTerm("c0")})
       |  END AS se_did
       |FROM a""".stripMargin
  }

  // ------------------------------------------------------------ bh adjust
  // Benjamini-Hochberg FDR correction across 25 brand-level "tests":
  // the pseudo p-value per brand is the exact share of its parts with
  // p_size > 25 (one integer division — deterministic; in production
  // the p's come from the Welch/Mann-Whitney families upstream). The
  // adjusted p is a suffix-min of fixed-shape doubles over the 25-row
  // TESTS table (never the corpus — the operator's documented window
  // contract), so the oracle hash-matches bit-for-bit.
  private val BhAlpha = 0.1

  def qBhAdjust(s: SparkSession, dir: String): DataFrame = {
    val tests = t(s, dir, "part").groupBy(col("p_brand"))
      .agg((sum(when(col("p_size") > 25, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("p"))
    Stats.bhAdjust(tests, "p_brand", "p", BhAlpha)
  }

  val qBhAdjustSql: String =
    s"""WITH t AS (
       |  SELECT p_brand,
       |    CAST(sum(CASE WHEN p_size > 25 THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS p
       |  FROM part GROUP BY 1),
       |r AS (
       |  SELECT p_brand, p,
       |    CAST(row_number() OVER (ORDER BY p, p_brand) AS BIGINT) AS rank,
       |    count(*) OVER () AS m
       |  FROM t),
       |adj AS (
       |  SELECT p_brand, p, rank,
       |    least(1.0, min(CAST(m AS DOUBLE) * p / CAST(rank AS DOUBLE))
       |      OVER (ORDER BY p, p_brand
       |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |      AS p_adj
       |  FROM r)
       |SELECT p_brand, p, rank, p_adj, p_adj <= $BhAlpha AS reject
       |FROM adj""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_bh_adjust", qBhAdjust, qBhAdjustSql),
    Query("q_did", qDid, qDidSql),
    Query("q_cuped", qCuped, qCupedSql),
    Query("q_bootstrap_se", qBootstrapSe, qBootstrapSeSql),
    Query("q_corr_matrix", qCorrMatrix, qCorrMatrixSql),
    Query("q_mannwhitney", qMannWhitney, qMannWhitneySql),
    Query("q_spearman", qSpearman, qSpearmanSql),
    Query("q_scale_features", qScaleFeatures, qScaleFeaturesSql),
    Query("q_ks", qKs, qKsSql),
    Query("q_gini", qGini, qGiniSql),
    Query("q_welch", qWelch, qWelchSql),
    Query("q_corr", qCorr, qCorrSql),
    Query("q_chisq", qChisq, qChisqSql),
    Query("q_trend", qTrend, qTrendSql),
    Query("q_winsorize", qWinsorize, qWinsorizeSql),
    Query("q_impute", qImpute, qImputeSql),
    Query("q_paths", qPaths, qPathsSql),
    Query("q_histogram", qHistogram, qHistogramSql),
  )
}
