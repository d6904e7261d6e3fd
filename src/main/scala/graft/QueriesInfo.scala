package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bootstrap, CorpusLaws, Dbscan, EffectSize,
  InfoTheory, NgramLm}

/** Round-12 third-sitting query group: distribution shape and effect
  * sizes (Jarque–Bera, Cohen's d / Hedges' g, Cliff's delta),
  * randomization inference (paired sign-flip permutation),
  * information-theoretic dependence and diversity (mutual information,
  * Simpson/Shannon), corpus laws (Zipf fit), Kneser–Ney smoothing, and
  * grid-bucketed DBSCAN. Every oracle replays the operator's integral
  * micro-unit algebra in HUGEINT and its closing scalar formulas in
  * identically-shaped DOUBLE expressions (the [[QueriesInference]]
  * discipline). */
object QueriesInfo {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB 2^53 hi/lo split — the SQL mirror of
    * [[graft.operators.LinearModel.intMomentToDouble]]. */
  private def hiLo(m: String, pow: String = "1.0") = {
    val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
    val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
    val sgn = s"(CASE WHEN $m < 0 THEN -1.0 WHEN $m = 0 THEN 0.0" +
      " ELSE 1.0 END)"
    s"(($sgn * ($hi * 9007199254740992.0 + $lo)) / $pow)"
  }

  /** CAST(floor(1e6·ln(num/den)) AS BIGINT) over hi/lo-split integral
    * operands — the SQL mirror of InfoTheory.lnMicro. */
  private def sqlLnMicro(num: String, den: String) =
    s"CAST(floor(ln(${hiLo(num)} / ${hiLo(den)}) * 1000000.0) AS BIGINT)"

  // ------------------------------------------------------ jarque_bera
  // Is each event type's value distribution normal enough for the
  // z-based monitors downstream? Skew/kurtosis/JB from exact integral
  // power sums in cents; the oracle replays the raw→central moment
  // algebra and the fixed-shape closing formulas.
  def qJarqueBera(s: SparkSession, dir: String): DataFrame =
    EffectSize.jarqueBeraByKey(t(s, dir, "events"), "event_type", "value")

  val qJarqueBeraSql: String =
    s"""WITH src AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
       |  FROM events WHERE value IS NOT NULL),
       |ag AS (SELECT event_type, count(*) AS n,
       |    sum(CAST(vm AS HUGEINT)) AS s1,
       |    sum(CAST(vm AS HUGEINT) * vm) AS s2,
       |    sum(CAST(vm AS HUGEINT) * vm * vm) AS s3,
       |    sum(CAST(vm AS HUGEINT) * vm * vm * vm) AS s4
       |  FROM src GROUP BY 1),
       |r AS (SELECT event_type, n,
       |    ${hiLo("s1")} / CAST(n AS DOUBLE) AS m1,
       |    ${hiLo("s2")} / CAST(n AS DOUBLE) AS r2,
       |    ${hiLo("s3")} / CAST(n AS DOUBLE) AS r3,
       |    ${hiLo("s4")} / CAST(n AS DOUBLE) AS r4
       |  FROM ag),
       |c AS (SELECT event_type, n,
       |    r2 - m1 * m1 AS m2,
       |    r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
       |    r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
       |       - 3.0 * m1 * m1 * m1 * m1 AS m4
       |  FROM r),
       |k AS (SELECT event_type, n, m2,
       |    m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
       |  FROM c)
       |SELECT event_type, n,
       |  CASE WHEN n >= 2 AND m2 > 0.0 THEN skew END AS skew,
       |  CASE WHEN n >= 2 AND m2 > 0.0 THEN kurt END AS kurt,
       |  CASE WHEN n >= 2 AND m2 > 0.0 THEN
       |    CAST(n AS DOUBLE) / 6.0 *
       |      (skew * skew + 0.25 * (kurt - 3.0) * (kurt - 3.0))
       |  END AS jb
       |FROM k""".stripMargin

  // --------------------------------------------------------- cohens_d
  // HOW MUCH do click and view values differ per day (q_welch answers
  // whether they differ at all)? Pooled-SD standardized difference +
  // the Hedges small-sample correction, all from one conditional pass.
  def qCohensD(s: SparkSession, dir: String): DataFrame =
    EffectSize.cohensDByKey(
      t(s, dir, "events").withColumn("day",
        date_format(col("ts"), "yyyy-MM-dd")),
      "day", "event_type", "click", "view", "value")

  val qCohensDSql: String =
    s"""WITH src AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS g,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
       |  FROM events
       |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
       |ag AS (SELECT day,
       |    count(*) FILTER (g = 'click') AS na,
       |    sum(CAST(vm AS HUGEINT)) FILTER (g = 'click') AS sa,
       |    sum(CAST(vm AS HUGEINT) * vm) FILTER (g = 'click') AS qa,
       |    count(*) FILTER (g = 'view') AS nb,
       |    sum(CAST(vm AS HUGEINT)) FILTER (g = 'view') AS sb,
       |    sum(CAST(vm AS HUGEINT) * vm) FILTER (g = 'view') AS qb
       |  FROM src GROUP BY 1),
       |v AS (SELECT day, na, nb, sa, sb,
       |    (CAST(na AS DOUBLE) * ${hiLo("qa")}
       |      - ${hiLo("sa")} * ${hiLo("sa")})
       |      / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS va,
       |    (CAST(nb AS DOUBLE) * ${hiLo("qb")}
       |      - ${hiLo("sb")} * ${hiLo("sb")})
       |      / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS vb
       |  FROM ag),
       |p AS (SELECT day, na, nb, sa, sb,
       |    ((CAST(na AS DOUBLE) - 1.0) * va
       |      + (CAST(nb AS DOUBLE) - 1.0) * vb)
       |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS sp2
       |  FROM v),
       |e AS (SELECT day, na, nb, sa, sb, sp2,
       |    (${hiLo("sa")} / CAST(na AS DOUBLE)
       |      - ${hiLo("sb")} / CAST(nb AS DOUBLE)) / sqrt(sp2) AS d
       |  FROM p)
       |SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  ${hiLo("sa")} / CAST(na AS DOUBLE) / 100.0 AS mean_a,
       |  ${hiLo("sb")} / CAST(nb AS DOUBLE) / 100.0 AS mean_b,
       |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0 THEN d END AS d,
       |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0 THEN
       |    d * (1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE)
       |      + CAST(nb AS DOUBLE)) - 9.0))
       |  END AS g
       |FROM e""".stripMargin

  // ----------------------------------------------------- cliffs_delta
  // The ordinal effect size on the same frame: P(click > view) −
  // P(click < view), exact from the doubled-mid-rank U.
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame =
    EffectSize.cliffsDeltaByKey(
      t(s, dir, "events").withColumn("day",
        date_format(col("ts"), "yyyy-MM-dd")),
      "day", "event_type", "click", "view", "value")

  val qCliffsDeltaSql: String =
    s"""WITH pv AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, value AS v,
      |    count(*) FILTER (event_type = 'click') AS ca,
      |    count(*) FILTER (event_type = 'view') AS cb
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
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
      |        (CAST(cum AS HUGEINT) * 2 + CAST(ca + cb AS HUGEINT) + 1))
      |      AS r2a
      |  FROM cum GROUP BY 1),
      |uu AS (
      |  SELECT day, n_a, n_b,
      |    r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2
      |  FROM agg)
      |SELECT day, n_a, n_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    2.0 * ${hiLo("u2", "2.0")}
      |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0
      |  END AS delta
      |FROM uu""".stripMargin

  // -------------------------------------------------------- perm_test
  // Did per-user spend shift between the two halves of the month? The
  // Fisher randomization answer: sign-flip the paired difference 64
  // times by md5 parity; every replicate statistic is an exact integer
  // sum, so the oracle's replicate table matches bit for bit.
  private val PermReps = 64
  private val PermSplit = "2024-01-16"

  def qPermTest(s: SparkSession, dir: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(18,2)")
    val diffs = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < lit(PermSplit).cast("timestamp"),
        d18(col("value"))).otherwise(-d18(col("value")))).as("diff"))
    Bootstrap.pairedSignPermutation(diffs, "user_id", "diff", PermReps)
  }

  val qPermTestSql: String = {
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    val h = hexFold("substr(md5(CAST(id AS VARCHAR) || ':' " +
      "|| CAST(rep AS VARCHAR)), 1, 8)")
    s"""WITH pairs AS (
       |  SELECT user_id AS id,
       |    CAST(CAST(sum(CASE WHEN ts < TIMESTAMP '$PermSplit'
       |        THEN CAST(value AS DECIMAL(18,2))
       |        ELSE -CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2))
       |      * 100 AS BIGINT) AS dm
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |obs AS (SELECT count(*) AS n_pairs,
       |    sum(CAST(dm AS HUGEINT)) AS tobs FROM pairs),
       |seeds AS (SELECT unnest([${(0 until PermReps).mkString(", ")}])
       |    AS rep),
       |reps AS (SELECT rep,
       |    sum(CAST(dm * (CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END)
       |      AS HUGEINT)) AS tr
       |  FROM pairs CROSS JOIN seeds GROUP BY 1),
       |ex AS (SELECT sum(CASE WHEN abs(tr) >= abs(tobs) THEN 1 ELSE 0
       |    END) AS n_extreme FROM reps CROSS JOIN obs)
       |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       |  ${hiLo("tobs")} / 100.0 AS t_obs,
       |  CAST($PermReps AS INT) AS r,
       |  CAST(n_extreme AS BIGINT) AS n_extreme,
       |  (CAST(n_extreme AS DOUBLE) + 1.0) / ${PermReps + 1}.0 AS p_value
       |FROM obs CROSS JOIN ex""".stripMargin
  }

  // ------------------------------------------------------ mutual_info
  // How much does a document's language tell you about its source?
  // MI/NMI over the (lang, source) contingency cells with micro-nat
  // floor-quantized ln waypoints — the corpus-composition dependence
  // readout next to q_cramers_v's association strength.
  def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    InfoTheory.mutualInfo(t(s, dir, "documents"), "lang", "source")

  val qMutualInfoSql: String =
    s"""WITH cells AS (
       |  SELECT lang AS x, source AS y, count(*) AS cxy
       |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |marg AS (SELECT x, y, cxy,
       |    sum(cxy) OVER (PARTITION BY x) AS cx,
       |    sum(cxy) OVER (PARTITION BY y) AS cy,
       |    sum(cxy) OVER () AS n
       |  FROM cells),
       |ag AS (SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells,
       |    sum(CAST(cxy AS HUGEINT) * ${sqlLnMicro(
              "CAST(cxy AS HUGEINT) * n", "CAST(cx AS HUGEINT) * cy")})
       |      AS smi,
       |    sum(CAST(cxy AS HUGEINT) * ${sqlLnMicro("cx", "1")}) AS sex,
       |    sum(CAST(cxy AS HUGEINT) * ${sqlLnMicro("cy", "1")}) AS sey
       |  FROM marg),
       |h AS (SELECT n, n_cells,
       |    ln(CAST(n AS DOUBLE)) - ${hiLo("sex")}
       |      / (CAST(n AS DOUBLE) * 1000000.0) AS h_x,
       |    ln(CAST(n AS DOUBLE)) - ${hiLo("sey")}
       |      / (CAST(n AS DOUBLE) * 1000000.0) AS h_y,
       |    ${hiLo("smi")} / (CAST(n AS DOUBLE) * 1000000.0) AS mi
       |  FROM ag)
       |SELECT n, n_cells, h_x, h_y, mi,
       |  CASE WHEN h_x > 0.0 AND h_y > 0.0 THEN mi / sqrt(h_x * h_y)
       |  END AS nmi
       |FROM h""".stripMargin

  // -------------------------------------------------------- diversity
  // Language diversity per source: richness, exact Simpson (two draws
  // match), Shannon via the same micro-nat waypoints. The e^H effective
  // species count stays operator-side (closing exp is libm territory —
  // the q_ngram_lm avg_logprob rule).
  def qDiversity(s: SparkSession, dir: String): DataFrame =
    InfoTheory.diversityByKey(t(s, dir, "documents"), "source", "lang")
      .drop("eff_species")

  val qDiversitySql: String =
    s"""WITH c AS (
       |  SELECT source, lang, count(*) AS c FROM documents
       |  WHERE lang IS NOT NULL GROUP BY 1, 2),
       |ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
       |    count(*) AS richness,
       |    sum(CAST(c AS HUGEINT) * (c - 1)) AS smatch,
       |    sum(CAST(c AS HUGEINT) * ${sqlLnMicro("c", "1")}) AS slnc
       |  FROM c GROUP BY 1),
       |f AS (SELECT source, n, richness,
       |    ${hiLo("smatch")} / (CAST(n AS DOUBLE)
       |      * (CAST(n AS DOUBLE) - 1.0)) AS lambda,
       |    ln(CAST(n AS DOUBLE)) - ${hiLo("slnc")}
       |      / (CAST(n AS DOUBLE) * 1000000.0) AS shannon
       |  FROM ag)
       |SELECT source, n, richness,
       |  CASE WHEN n >= 2 THEN lambda END AS simpson,
       |  CASE WHEN n >= 2 THEN 1.0 - lambda END AS gini_simpson,
       |  shannon
       |FROM f""".stripMargin

  // ------------------------------------------------------------- zipf
  // Does the corpus obey Zipf's law? OLS of ln(freq) on ln(rank) over
  // the top-500 vocabulary — the one-number template/boilerplate drift
  // alarm. Rank window is vocab-bounded; the corpus never sorts.
  private val ZipfTopV = 500

  def qZipf(s: SparkSession, dir: String): DataFrame =
    CorpusLaws.zipfFit(t(s, dir, "documents"), "text", ZipfTopV)

  val qZipfSql: String = {
    def lnm(c: String) =
      s"CAST(floor(ln(CAST($c AS DOUBLE)) * 1000000.0) AS BIGINT)"
    s"""WITH toks AS (
       |  SELECT unnest(string_split(
       |    ${QueriesText.sqlCollapse("lower(text)")}, ' ')) AS tok
       |  FROM documents),
       |c AS (SELECT tok, count(*) AS c FROM toks WHERE tok <> ''
       |      GROUP BY 1),
       |rk AS (SELECT tok, c,
       |    row_number() OVER (ORDER BY c DESC, tok) AS rank FROM c),
       |top AS (SELECT ${lnm("rank")} AS x, ${lnm("c")} AS y
       |        FROM rk WHERE rank <= $ZipfTopV),
       |mo AS (SELECT count(*) AS v_used,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM top),
       |tot AS (SELECT count(*) AS vocab,
       |    CAST(sum(CAST(c AS HUGEINT)) AS BIGINT) AS n_tokens FROM c),
       |s AS (SELECT vocab, n_tokens, v_used, sx, sy,
       |    CAST(v_used AS DOUBLE) * ${hiLo("sxx")}
       |      - ${hiLo("sx")} * ${hiLo("sx")} AS denom,
       |    (CAST(v_used AS DOUBLE) * ${hiLo("sxy")}
       |      - ${hiLo("sx")} * ${hiLo("sy")})
       |      / (CAST(v_used AS DOUBLE) * ${hiLo("sxx")}
       |         - ${hiLo("sx")} * ${hiLo("sx")}) AS slope
       |  FROM tot CROSS JOIN mo)
       |SELECT vocab, n_tokens, v_used,
       |  CASE WHEN v_used >= 2 AND denom > 0.0 THEN slope END AS slope,
       |  CASE WHEN v_used >= 2 AND denom > 0.0 THEN
       |    ((${hiLo("sy")} - slope * ${hiLo("sx")})
       |      / CAST(v_used AS DOUBLE)) / 1000000.0
       |  END AS intercept
       |FROM s""".stripMargin
  }

  // ------------------------------------------------------ kneser_ney
  // KN-smoothed bigram self-scoring: the continuation-count smoother
  // scored as exact integer micro-prob sums per document (logprob
  // stays off the compared projection — the q_ngram_lm rule).
  def qKneserNey(s: SparkSession, dir: String): DataFrame =
    NgramLm.kneserNeySelfScore(t(s, dir, "documents"), "doc_id", "text")

  val qKneserNeySql: String =
    s"""WITH c AS (SELECT doc_id,
       |    ${QueriesText.sqlCollapse("lower(text)")} AS sl
       |  FROM documents),
       |bg AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
       |    unnest(list_transform(range(1, len(a)), i -> a[i+1])) AS w2
       |  FROM (SELECT doc_id, string_split(sl, ' ') AS a FROM c)),
       |m AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    count(*) AS r1 FROM m GROUP BY 1),
       |lft AS (SELECT w2, count(*) AS l2 FROM m GROUP BY 1),
       |ty AS (SELECT count(*) AS t FROM m),
       |sc AS (SELECT doc_id,
       |    CAST(floor(((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
       |      + 0.75 * CAST(r1 AS DOUBLE) / CAST(c1 AS DOUBLE)
       |        * (CAST(l2 AS DOUBLE) / CAST(t AS DOUBLE)))
       |      * 1000000000.0) AS BIGINT) AS pm
       |  FROM bg JOIN m USING (w1, w2) JOIN ctx USING (w1)
       |    JOIN lft USING (w2) CROSS JOIN ty)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(pm) AS BIGINT) AS sum_p_micro
       |FROM sc GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- dbscan
  // Density clustering of a deterministic md5 point scatter: grid-
  // bucketed neighbor screen, exact integer distance tests, min-label
  // border rule, star-contraction closure. The oracle replays the
  // identical scatter, the 3x3 cell screen, and the transitive closure
  // with a recursive CTE — hash agreement pins core flags, neighbor
  // counts, AND the full cluster labeling.
  private val DbscanEps = 35000000L // eps = 35 units of the 4096 square
  private val DbscanMinPts = 4

  def qDbscan(s: SparkSession, dir: String): DataFrame = {
    def u32(tag: String): Column =
      conv(substring(md5(concat(col("event_id").cast("string"),
        lit(tag))), 1, 8), 16, 10).cast("long")
    // constant-density scatter: the square's side grows with sqrt(N)
    // (at the sf0.01 oracle scale, span = the base 4096-unit square),
    // so expected neighbors per point stay ~2.3 at EVERY sf — a fixed
    // span would densify quadratically and percolate into one giant
    // component by configuration, not by operator design. The 44-bit
    // widened hash covers spans past 2^32.
    val n = t(s, dir, "events").count()
    val span = (4096000000.0 * math.sqrt(n / 10000.0)).toLong
    def coord(hiTag: String, loTag: String) =
      (u32(hiTag) * 4096L + u32(loTag) % 4096L) % span
    val pts = t(s, dir, "events").select(col("event_id"),
      coord(":x", ":xl").as("xm"),
      coord(":y", ":yl").as("ym"))
    Dbscan.cluster(pts, "event_id", "xm", "ym", DbscanEps, DbscanMinPts)
      .withColumnRenamed("pid", "event_id")
  }

  val qDbscanSql: String = {
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    def h32(tag: String) =
      hexFold(s"substr(md5(CAST(event_id AS VARCHAR) || '$tag'), 1, 8)")
    def coord(hiTag: String, loTag: String) =
      s"((${h32(hiTag)}) * 4096 + (${h32(loTag)}) % 4096) % span"
    s"""WITH RECURSIVE sp AS (
       |  SELECT CAST(floor(4096000000.0 * sqrt(count(*) / 10000.0))
       |    AS BIGINT) AS span FROM events),
       |pts AS (
       |  SELECT event_id AS pid,
       |    ${coord(":x", ":xl")} AS xm,
       |    ${coord(":y", ":yl")} AS ym
       |  FROM events CROSS JOIN sp),
       |cl AS (SELECT pid, xm, ym,
       |    xm // $DbscanEps AS cx, ym // $DbscanEps AS cy FROM pts),
       |pairs AS (
       |  SELECT a.pid AS pid, b.pid AS qid
       |  FROM cl a JOIN cl b
       |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       |   AND CAST(a.xm - b.xm AS HUGEINT) * (a.xm - b.xm)
       |     + CAST(a.ym - b.ym AS HUGEINT) * (a.ym - b.ym)
       |       <= CAST($DbscanEps AS HUGEINT) * $DbscanEps),
       |flags AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_neighbors,
       |    count(*) >= $DbscanMinPts AS is_core
       |  FROM pairs GROUP BY 1),
       |core AS (SELECT pid FROM flags WHERE is_core),
       |ce AS (SELECT p.pid, p.qid FROM pairs p
       |  JOIN core c1 ON c1.pid = p.pid
       |  JOIN core c2 ON c2.pid = p.qid),
       |edges AS (SELECT pid AS src, qid AS dst FROM ce
       |          UNION SELECT qid, pid FROM ce),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e
       |    JOIN reach ON reach.node = e.dst),
       |clab AS (SELECT node AS pid, MIN(r) AS cluster_id
       |         FROM reach GROUP BY 1),
       |blab AS (SELECT p.pid, MIN(l.cluster_id) AS border_cluster
       |  FROM pairs p JOIN flags f ON f.pid = p.pid AND NOT f.is_core
       |  JOIN clab l ON l.pid = p.qid
       |  GROUP BY 1)
       |SELECT f.pid AS event_id, f.n_neighbors, f.is_core,
       |  COALESCE(c.cluster_id, b.border_cluster) AS cluster_id
       |FROM flags f LEFT JOIN clab c ON c.pid = f.pid
       |LEFT JOIN blab b ON b.pid = f.pid""".stripMargin
  }

  // ----------------------------------------------------- poisson_irls
  // Rate model: purchases per user as a function of (click, view)
  // activity buckets — the count-outcome companion of q_logit_irls,
  // same unrolled-IRLS oracle discipline (grid collapse, floor
  // waypoints, hi/lo moment splits, Cramer solve), with the Poisson
  // simplification that y enters the working response linearly so the
  // grid needs no y dimension.
  private val PoissonIters = 3

  private def poissonPerUser(s: SparkSession, dir: String): DataFrame = {
    def bucket(et: String) = {
      val c = count_if(col("event_type") === et)
      ((c - c % 5) / 5).cast("long")
    }
    t(s, dir, "events").groupBy(col("user_id")).agg(
      count_if(col("event_type") === "purchase").as("y"),
      bucket("click").as("x1"),
      bucket("view").as("x2"))
  }

  def qPoissonIrls(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinearModel.poissonIrlsGrid(
      poissonPerUser(s, dir), "y", "x1", "x2", PoissonIters)

  val qPoissonIrlsSql: String = {
    def det3Sql(a: String, b: String, c: String,
        p: String, q: String, r: String,
        x: String, y: String, z: String): String =
      s"$a * ($q * $z - $r * $y) - $b * ($p * $z - $r * $x)" +
        s" + $c * ($p * $y - $q * $x)"
    val scales = Seq("sww" -> "1.0e8", "swx1" -> "1.0e10",
      "swx2" -> "1.0e10", "swx11" -> "1.0e12", "swx12" -> "1.0e12",
      "swx22" -> "1.0e12", "swz" -> "1.0e9", "swzx1" -> "1.0e11",
      "swzx2" -> "1.0e11")
    val d = scales.map { case (m, p) => m -> hiLo(m, p) }.toMap
    val (sww, swx1, swx2) = (d("sww"), d("swx1"), d("swx2"))
    val (swx11, swx12, swx22) = (d("swx11"), d("swx12"), d("swx22"))
    val (swz, swzx1, swzx2) = (d("swz"), d("swzx1"), d("swzx2"))
    val iters = (1 to PoissonIters).map { k =>
      val prev = if (k == 1) "b0i" else s"b${k - 1}"
      s"""it$k AS (SELECT g.cnt, g.sy, g.x1c, g.x2c,
         |    greatest(least(b.b0
         |      + b.b1 * (CAST(g.x1c AS DOUBLE) / 100.0)
         |      + b.b2 * (CAST(g.x2c AS DOUBLE) / 100.0),
         |      10.0), -25.0) AS etac
         |  FROM grid g CROSS JOIN $prev b),
         |mu$k AS (SELECT *, greatest(
         |    CAST(floor(exp(etac) * 1.0e8) AS BIGINT), 1) AS mu8
         |  FROM it$k),
         |z$k AS (SELECT *, CAST(floor(
         |    (CAST(cnt AS DOUBLE) * (CAST(mu8 AS DOUBLE) / 1.0e8)
         |      * (etac - 1.0) + CAST(sy AS DOUBLE)) * 1.0e9)
         |    AS BIGINT) AS wz9 FROM mu$k),
         |a$k AS (SELECT
         |    sum(CAST(cnt AS HUGEINT) * mu8) AS sww,
         |    sum(CAST(cnt AS HUGEINT) * mu8 * x1c) AS swx1,
         |    sum(CAST(cnt AS HUGEINT) * mu8 * x2c) AS swx2,
         |    sum(CAST(cnt AS HUGEINT) * mu8 * x1c * x1c) AS swx11,
         |    sum(CAST(cnt AS HUGEINT) * mu8 * x1c * x2c) AS swx12,
         |    sum(CAST(cnt AS HUGEINT) * mu8 * x2c * x2c) AS swx22,
         |    sum(CAST(wz9 AS HUGEINT)) AS swz,
         |    sum(CAST(wz9 AS HUGEINT) * x1c) AS swzx1,
         |    sum(CAST(wz9 AS HUGEINT) * x2c) AS swzx2
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
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    count(*) FILTER (event_type = 'purchase') AS y,
       |    (count(*) FILTER (event_type = 'click')
       |      - count(*) FILTER (event_type = 'click') % 5) // 5 AS x1,
       |    (count(*) FILTER (event_type = 'view')
       |      - count(*) FILTER (event_type = 'view') % 5) // 5 AS x2
       |  FROM events GROUP BY 1),
       |grid AS (
       |  SELECT
       |    CAST(CAST(x1 AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1c,
       |    CAST(CAST(x2 AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2c,
       |    count(*) AS cnt, CAST(sum(y) AS BIGINT) AS sy
       |  FROM per_user GROUP BY 1, 2),
       |b0i AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |$iters
       |SELECT n, b0, b1, b2
       |FROM (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grid)
       |CROSS JOIN b$PoissonIters""".stripMargin
  }

  // ------------------------------------------------------ good_turing
  // Frequency-of-frequencies with simple Good-Turing adjusted counts
  // and the r = 1 unseen-mass estimate — the smoothing table the
  // Kneser-Ney discount abstracts; exact integer counts, two bounded
  // windows, fixed-shape closing ratios.
  def qGoodTuring(s: SparkSession, dir: String): DataFrame =
    CorpusLaws.goodTuring(t(s, dir, "documents"), "text")

  val qGoodTuringSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(
       |    ${QueriesText.sqlCollapse("lower(text)")}, ' ')) AS tok
       |  FROM documents),
       |c AS (SELECT tok, count(*) AS c FROM toks WHERE tok <> ''
       |      GROUP BY 1),
       |fof AS (SELECT c AS r, count(*) AS n_r FROM c GROUP BY 1),
       |t AS (SELECT r, n_r,
       |    lead(r, 1) OVER (ORDER BY r) AS rn,
       |    lead(n_r, 1) OVER (ORDER BY r) AS nn,
       |    sum(CAST(r AS HUGEINT) * n_r) OVER () AS n
       |  FROM fof)
       |SELECT r, n_r,
       |  CASE WHEN rn = r + 1 THEN
       |    CAST(r + 1 AS DOUBLE) * CAST(nn AS DOUBLE)
       |      / CAST(n_r AS DOUBLE) END AS r_star,
       |  ${hiLo("CAST(r AS HUGEINT) * n_r")} / ${hiLo("n")} AS mass
       |FROM t""".stripMargin

  // ------------------------------------------------------ periodogram
  // Does any event type's daily value series carry a rhythm? Spectral
  // power at candidate periods over the 30-day window — trig factors
  // floor-quantized on the bounded t-mod-P domain, integer sums, one
  // scan. The known seeding of the testdata has no planted cycle, so
  // the readout doubles as a flatness baseline.
  private val PeriodogramPeriods = Seq(2, 3, 4, 5, 6, 7, 10, 15)

  def qPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("t"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
    graft.operators.Spectral.periodogram(daily, "event_type", "t", "x",
      PeriodogramPeriods)
  }

  val qPeriodogramSql: String = {
    val tau = 2.0 * math.Pi
    def trig(f: String) =
      s"CAST(floor($f($tau * CAST(t % period AS DOUBLE) " +
        "/ CAST(period AS DOUBLE)) * 1000000.0) AS BIGINT)"
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
       |    sum(CAST(value AS DECIMAL(18,2))) AS x
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |ex AS (SELECT event_type, t,
       |    CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm,
       |    unnest([${PeriodogramPeriods.mkString(", ")}]) AS period
       |  FROM daily),
       |tr AS (SELECT event_type, period, vm,
       |    ${trig("cos")} AS c6, ${trig("sin")} AS s6
       |  FROM ex),
       |ag AS (SELECT event_type, period, count(*) AS n,
       |    sum(CAST(vm AS HUGEINT) * c6) AS sc,
       |    sum(CAST(vm AS HUGEINT) * s6) AS ss
       |  FROM tr GROUP BY 1, 2)
       |SELECT event_type, period, n,
       |  (${hiLo("sc")} / 1.0e8 / CAST(n AS DOUBLE))
       |    * (${hiLo("sc")} / 1.0e8 / CAST(n AS DOUBLE))
       |  + (${hiLo("ss")} / 1.0e8 / CAST(n AS DOUBLE))
       |    * (${hiLo("ss")} / 1.0e8 / CAST(n AS DOUBLE)) AS power
       |FROM ag""".stripMargin
  }

  // -------------------------------------------------------- closeness
  // Landmark harmonic closeness on the customer-supplier co-order
  // graph: 8 deterministic landmarks, one multi-source BFS loop,
  // reciprocals as exact integral divisions. The oracle BFSes the same
  // graph with a recursive (seed, node) CTE — an independent algorithm,
  // the q_bfs discipline widened to k sources.
  private val ClosenessLandmarks = 8
  private val ClosenessHops = 6

  def qCloseness(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val landmarks = pairs.select(col("a")).distinct()
      .orderBy(col("a")).limit(ClosenessLandmarks)
    graft.operators.ShortestPaths.harmonicCloseness(
      edges, "src", "dst", landmarks, "a", ClosenessHops)
  }

  val qClosenessSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |seeds AS (SELECT a AS seed FROM (SELECT DISTINCT a FROM pairs)
       |          ORDER BY a LIMIT $ClosenessLandmarks),
       |bfs(seed, node, dist) AS (
       |  SELECT seed, seed, CAST(0 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT bfs.seed, e.dst, bfs.dist + 1
       |  FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $ClosenessHops),
       |md AS (SELECT seed, node, min(dist) AS dist FROM bfs
       |       GROUP BY 1, 2),
       |f AS (SELECT node, count(*) AS n_landmarks,
       |    sum((1000000000000 - 1000000000000 % dist) // dist) AS h_micro
       |  FROM md WHERE dist > 0 GROUP BY 1)
       |SELECT node, n_landmarks, CAST(h_micro AS BIGINT) AS h_micro,
       |  CAST(h_micro AS DOUBLE) / 1.0e12 AS harmonic
       |FROM f""".stripMargin

  // ----------------------------------------------------------- grubbs
  // Single-outlier screen per event type: G = max|x − mean|/sd,
  // closed-form from (n, Σx, Σx², min, max) — no deviation pass.
  def qGrubbs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.grubbsByKey(
      t(s, dir, "events"), "event_type", "value")

  val qGrubbsSql: String =
    s"""WITH src AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
       |  FROM events WHERE value IS NOT NULL),
       |ag AS (SELECT event_type, count(*) AS n,
       |    sum(CAST(vm AS HUGEINT)) AS s,
       |    sum(CAST(vm AS HUGEINT) * vm) AS q,
       |    min(vm) AS mn, max(vm) AS mx
       |  FROM src GROUP BY 1),
       |m AS (SELECT event_type, n, mn, mx,
       |    ${hiLo("s")} / CAST(n AS DOUBLE) AS mean,
       |    sqrt((CAST(n AS DOUBLE) * ${hiLo("q")}
       |        - ${hiLo("s")} * ${hiLo("s")})
       |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd
       |  FROM ag)
       |SELECT event_type, n,
       |  CASE WHEN n >= 3 AND sd > 0.0 THEN
       |    greatest(CAST(mx AS DOUBLE) - mean, mean - CAST(mn AS DOUBLE))
       |      / sd END AS g,
       |  CASE WHEN n >= 3 AND sd > 0.0 THEN
       |    CAST(CASE WHEN CAST(mx AS DOUBLE) - mean
       |           >= mean - CAST(mn AS DOUBLE) THEN mx ELSE mn END
       |      AS DOUBLE) / 100.0 END AS outlier_value
       |FROM m""".stripMargin

  // --------------------------------------------------------- bartlett
  // Parametric variance homogeneity across event types per day — the
  // sharp-edged companion of q_brown_forsythe (sensitive to
  // non-normality BY DESIGN; read the two together). Cross-group sums
  // ride integral/decimal waypoints.
  def qBartlett(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.bartlettByKey(
      t(s, dir, "events").withColumn("day",
        date_format(col("ts"), "yyyy-MM-dd")),
      "day", "event_type", "value")

  val qBartlettSql: String =
    s"""WITH src AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS g,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
       |  FROM events
       |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
       |pg AS (SELECT day, g, count(*) AS ng,
       |    sum(CAST(vm AS HUGEINT)) AS s,
       |    sum(CAST(vm AS HUGEINT) * vm) AS q
       |  FROM src GROUP BY 1, 2),
       |t AS (SELECT day, ng,
       |    (CAST(ng AS HUGEINT) * q - s * s) AS num
       |  FROM pg),
       |wp AS (SELECT day, ng,
       |    (num * 1000000 - (num * 1000000) % ng) // ng AS ss_micro
       |  FROM t),
       |sc AS (SELECT day, ng, ss_micro,
       |    CASE WHEN ng >= 2 AND ss_micro > 0 THEN
       |      CAST(floor(((CAST(ng AS DOUBLE) - 1.0) * ln(
       |        ${hiLo("ss_micro")} / 1.0e6
       |          / (CAST(ng AS DOUBLE) - 1.0))) * 1000000.0) AS BIGINT)
       |    END AS ln_term,
       |    CASE WHEN ng >= 2 THEN
       |      (1000000000000 - 1000000000000 % (ng - 1)) // (ng - 1)
       |    END AS recip
       |  FROM wp),
       |ag AS (SELECT day, count(*) AS n_groups,
       |    CAST(sum(ng) AS BIGINT) AS n,
       |    min(ng) AS min_ng, min(ss_micro) AS min_ss,
       |    sum(ss_micro) AS ss_all, sum(ln_term) AS ln_sum,
       |    sum(recip) AS recip_sum
       |  FROM sc GROUP BY 1),
       |f AS (SELECT day, n_groups, n, min_ng, min_ss,
       |    (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE))
       |      * ln(${hiLo("ss_all")} / 1.0e6
       |        / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)))
       |      - CAST(ln_sum AS DOUBLE) / 1.0e6 AS numer,
       |    1.0 + (CAST(recip_sum AS DOUBLE) / 1.0e12
       |        - 1.0 / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)))
       |      / (3.0 * (CAST(n_groups AS DOUBLE) - 1.0)) AS c
       |  FROM ag)
       |SELECT day, n_groups, n,
       |  CASE WHEN n_groups >= 2 AND min_ng >= 2 AND min_ss > 0
       |    THEN numer / c END AS k2
       |FROM f""".stripMargin

  // ---------------------------------------------------- durbin_watson
  // Is the daily-value trend line hiding autocorrelated residuals?
  // OLS per event type over the day index, then DW over the
  // floor-quantized residual series — exact quadratic sums.
  def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("t"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
    graft.operators.Diagnostics.durbinWatsonByKey(
      daily, "event_type", "t", "t", "x")
  }

  val qDurbinWatsonSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
       |    sum(CAST(value AS DECIMAL(18,2))) AS x
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |base AS (SELECT event_type, t,
       |    CAST(CAST(t AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
       |    CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
       |  FROM daily),
       |mom AS (SELECT event_type, count(*) AS n,
       |    sum(CAST(xc AS HUGEINT)) AS sx, sum(CAST(yc AS HUGEINT)) AS sy,
       |    sum(CAST(xc AS HUGEINT) * yc) AS sxy,
       |    sum(CAST(xc AS HUGEINT) * xc) AS sxx
       |  FROM base GROUP BY 1),
       |coef AS (SELECT event_type, n,
       |    CASE WHEN CAST(n AS DOUBLE) * ${hiLo("sxx")}
       |        - ${hiLo("sx")} * ${hiLo("sx")} > 0.0 THEN
       |      (${hiLo("sy")} - ((CAST(n AS DOUBLE) * ${hiLo("sxy")}
       |          - ${hiLo("sx")} * ${hiLo("sy")})
       |        / (CAST(n AS DOUBLE) * ${hiLo("sxx")}
       |          - ${hiLo("sx")} * ${hiLo("sx")}))
       |        * ${hiLo("sx")}) / CAST(n AS DOUBLE) / 100.0 END AS b0,
       |    CASE WHEN CAST(n AS DOUBLE) * ${hiLo("sxx")}
       |        - ${hiLo("sx")} * ${hiLo("sx")} > 0.0 THEN
       |      (CAST(n AS DOUBLE) * ${hiLo("sxy")}
       |          - ${hiLo("sx")} * ${hiLo("sy")})
       |        / (CAST(n AS DOUBLE) * ${hiLo("sxx")}
       |          - ${hiLo("sx")} * ${hiLo("sx")}) END AS b1
       |  FROM mom),
       |res AS (SELECT b.event_type, b.t, c.n, c.b0, c.b1,
       |    CAST(floor((CAST(b.yc AS DOUBLE) / 100.0
       |      - (c.b0 + c.b1 * (CAST(b.xc AS DOUBLE) / 100.0)))
       |      * 1.0e6) AS BIGINT) AS e6
       |  FROM base b JOIN coef c USING (event_type)),
       |lagged AS (SELECT event_type, n, b0, b1, e6,
       |    lag(e6, 1) OVER (PARTITION BY event_type ORDER BY t) AS p6
       |  FROM res),
       |ag AS (SELECT event_type, max(n) AS n,
       |    max(b0) AS b0, max(b1) AS b1,
       |    sum(CASE WHEN p6 IS NOT NULL THEN
       |      CAST(e6 - p6 AS HUGEINT) * (e6 - p6) END) AS dnum,
       |    sum(CAST(e6 AS HUGEINT) * e6) AS dden
       |  FROM lagged GROUP BY 1)
       |SELECT event_type, n, b0, b1,
       |  CASE WHEN n >= 3 AND b0 IS NOT NULL AND dden > 0 THEN
       |    ${hiLo("dnum")} / ${hiLo("dden")} END AS dw
       |FROM ag""".stripMargin

  // ------------------------------------------------------------- sprt
  // Retrospective Wald SPRT per event type: would a sequential monitor
  // of the "value > 50" conversion rate have stopped early, and when?
  // All increments/thresholds are driver-computed micro-nat integer
  // literals shared verbatim with the oracle; the walk is an exact
  // integer cumulative sum.
  private val SprtDesign = graft.operators.SequentialTest.Design(
    p0 = 0.30, p1 = 0.35, alpha = 0.05, beta = 0.05)
  private val SprtThreshold = 50.0

  def qSprt(s: SparkSession, dir: String): DataFrame =
    graft.operators.SequentialTest.sprt(
      t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("conv", (col("value") > SprtThreshold).cast("long")),
      "event_type", Seq("ts", "event_id"), "conv", SprtDesign)

  val qSprtSql: String = {
    val d = SprtDesign
    s"""WITH src AS (
       |  SELECT event_type, ts, event_id,
       |    CASE WHEN value > $SprtThreshold THEN ${d.winMicro}
       |         ELSE ${d.loseMicro} END AS inc
       |  FROM events WHERE value IS NOT NULL),
       |walk AS (SELECT event_type,
       |    sum(inc) OVER (PARTITION BY event_type
       |      ORDER BY ts, event_id) AS llr,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY ts, event_id) AS i
       |  FROM src),
       |crossed AS (SELECT event_type, llr, i,
       |    CASE WHEN llr >= ${d.upperMicro} THEN 'h1'
       |         WHEN llr <= ${d.lowerMicro} THEN 'h0' END AS crs
       |  FROM walk),
       |ag AS (SELECT event_type, count(*) AS n,
       |    max(struct_pack(i := i, llr := llr)) AS lst,
       |    min(CASE WHEN crs IS NOT NULL
       |        THEN struct_pack(i := i, crs := crs) END) AS fst
       |  FROM crossed GROUP BY 1)
       |SELECT event_type, n,
       |  CAST(lst.llr AS DOUBLE) / 1.0e6 AS llr_final,
       |  COALESCE(fst.crs, 'continue') AS decision,
       |  fst.i AS n_decide
       |FROM ag""".stripMargin
  }

  // ----------------------------------------------------------- anova2
  // Two-way ANOVA: does value level shift by event type, by week, and
  // by their interaction? Exact micro-division sums of squares over
  // the bounded (type, week) cell table.
  def qAnova2(s: SparkSession, dir: String): DataFrame = {
    val t7 = datediff(col("ts").cast("date"),
      lit("2024-01-01").cast("date"))
    graft.operators.Inference.twoWayAnova(
      t(s, dir, "events")
        .withColumn("week", ((t7 - t7 % 7) / 7).cast("long")),
      "event_type", "week", "value")
  }

  val qAnova2Sql: String = {
    def md(num: String, den: String) = s"(($num) - ($num) % ($den)) // ($den)"
    def sq(s: String, n: String) =
      md(s"CAST(1000000 AS HUGEINT) * $s * $s", n)
    s"""WITH src AS (
       |  SELECT event_type AS a,
       |    (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |      - date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)
       |      // 7 AS b,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
       |  FROM events WHERE value IS NOT NULL),
       |cells AS (SELECT a, b, count(*) AS n_ab,
       |    sum(CAST(vm AS HUGEINT)) AS s_ab,
       |    sum(CAST(vm AS HUGEINT) * vm) AS q_ab
       |  FROM src GROUP BY 1, 2),
       |ca AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n, count(*) AS n_cells,
       |    sum(s_ab) AS s, sum(q_ab) AS q,
       |    sum(${sq("s_ab", "n_ab")}) AS t_cells
       |  FROM cells),
       |ma AS (SELECT count(*) AS a_levels,
       |    sum(${sq("s_a", "n_a")}) AS t_a
       |  FROM (SELECT a, sum(s_ab) AS s_a, sum(n_ab) AS n_a
       |        FROM cells GROUP BY 1)),
       |mb AS (SELECT count(*) AS b_levels,
       |    sum(${sq("s_b", "n_b")}) AS t_b
       |  FROM (SELECT b, sum(s_ab) AS s_b, sum(n_ab) AS n_b
       |        FROM cells GROUP BY 1)),
       |j AS (SELECT * FROM ca CROSS JOIN ma CROSS JOIN mb),
       |k AS (SELECT *,
       |    ${md("CAST(1000000 AS HUGEINT) * s * s", "n")} AS t2
       |  FROM j),
       |f AS (SELECT n, a_levels, b_levels, n_cells,
       |    ${hiLo("t_a", "1.0e6")} - ${hiLo("t2", "1.0e6")} AS ss_a,
       |    ${hiLo("t_b", "1.0e6")} - ${hiLo("t2", "1.0e6")} AS ss_b,
       |    ${hiLo("t_cells", "1.0e6")} - ${hiLo("t2", "1.0e6")}
       |      AS ss_cells,
       |    ${hiLo("q", "1.0")} - ${hiLo("t2", "1.0e6")} AS ss_tot
       |  FROM k),
       |g AS (SELECT n, a_levels, b_levels, n_cells,
       |    ss_a, ss_b, ss_cells - ss_a - ss_b AS ss_ab,
       |    ss_tot - ss_cells AS ss_e,
       |    CAST(a_levels AS DOUBLE) - 1.0 AS df_a,
       |    CAST(b_levels AS DOUBLE) - 1.0 AS df_b,
       |    CAST(n_cells AS DOUBLE) - CAST(a_levels AS DOUBLE)
       |      - CAST(b_levels AS DOUBLE) + 1.0 AS df_ab,
       |    CAST(n AS DOUBLE) - CAST(n_cells AS DOUBLE) AS df_e
       |  FROM f)
       |SELECT n, a_levels, b_levels, n_cells,
       |  CASE WHEN df_a > 0.0 AND df_e > 0.0 AND ss_e / df_e > 0.0
       |    THEN (ss_a / df_a) / (ss_e / df_e) END AS f_a,
       |  CASE WHEN df_b > 0.0 AND df_e > 0.0 AND ss_e / df_e > 0.0
       |    THEN (ss_b / df_b) / (ss_e / df_e) END AS f_b,
       |  CASE WHEN df_ab > 0.0 AND df_e > 0.0 AND ss_e / df_e > 0.0
       |    THEN (ss_ab / df_ab) / (ss_e / df_e) END AS f_ab
       |FROM g""".stripMargin
  }

  // ------------------------------------------------------ betweenness
  // Who brokers the customer-supplier co-order graph? Brandes
  // dependency accumulation from the same 8 landmarks as q_closeness:
  // exact DECIMAL path counts forward, micro-quantized δ backward. The
  // oracle unrolls both phases layer by layer (the logit-IRLS unroll
  // discipline applied to a graph fixpoint).
  private val BetweennessHops = 4

  def qBetweenness(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val landmarks = pairs.select(col("a")).distinct()
      .orderBy(col("a")).limit(ClosenessLandmarks)
    graft.operators.Betweenness.sampled(
      edges, "src", "dst", landmarks, "a", BetweennessHops)
  }

  val qBetweennessSql: String = {
    val H = BetweennessHops
    val forward = (1 to H).map { k =>
      s"""l$k AS (SELECT c.seed, c.node, sum(c.sigma) AS sigma
         |  FROM (SELECT l.seed, e.dst AS node, l.sigma
         |        FROM l${k - 1} l JOIN e ON e.src = l.node) c
         |  LEFT JOIN s${k - 1} p ON p.seed = c.seed AND p.node = c.node
         |  WHERE p.seed IS NULL
         |  GROUP BY 1, 2),
         |s$k AS (SELECT seed, node FROM s${k - 1}
         |        UNION ALL SELECT seed, node FROM l$k)""".stripMargin
    }.mkString(",\n")
    val backward = ((H - 1) to 0 by -1).map { d =>
      s"""c$d AS (SELECT l.seed, l.node,
         |    sum(CAST(floor((${hiLo("l.sigma")} / ${hiLo("v.sigma")})
         |      * (1.0e6 + ${hiLo("v.delta")})) AS HUGEINT)) AS dsum
         |  FROM l$d l JOIN e ON e.src = l.node
         |  JOIN d${d + 1} v ON v.seed = l.seed AND v.node = e.dst
         |  GROUP BY 1, 2),
         |d$d AS (SELECT l.seed, l.node, l.sigma,
         |    COALESCE(c.dsum, CAST(0 AS HUGEINT)) AS delta
         |  FROM l$d l LEFT JOIN c$d c
         |    ON c.seed = l.seed AND c.node = l.node)""".stripMargin
    }.mkString(",\n")
    val unionDeltas = (1 to H)
      .map(d => s"SELECT node, delta FROM d$d").mkString("\n  UNION ALL ")
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |seeds AS (SELECT a AS seed FROM (SELECT DISTINCT a FROM pairs)
       |          ORDER BY a LIMIT $ClosenessLandmarks),
       |l0 AS (SELECT seed, seed AS node, CAST(1 AS HUGEINT) AS sigma
       |       FROM seeds),
       |s0 AS (SELECT seed, node FROM l0),
       |$forward,
       |d$H AS (SELECT seed, node, sigma, CAST(0 AS HUGEINT) AS delta
       |        FROM l$H),
       |$backward,
       |acc AS ($unionDeltas)
       |SELECT node, CAST(bcm AS BIGINT) AS bc_micro,
       |  ${hiLo("bcm")} / 1.0e6 AS bc,
       |  (SELECT count(*) FROM l$H) > 0 AS hit_max_hops
       |FROM (SELECT node, sum(delta) AS bcm FROM acc GROUP BY 1)
       |WHERE bcm > 0""".stripMargin
  }

  // ---------------------------------------------------------- linkage
  // Fellegi-Sunter scoring over blocked customer candidate pairs:
  // m/u counted from the labeled set (same-nation as ground truth),
  // per-field ln weights floor-quantized once, every pair score an
  // exact integer micro sum.
  private val LinkageFields = Seq("f_dec", "f_sign", "f_bucket")

  def qLinkage(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val pairs = graft.core.CacheScope.session.retain(
      c.as("x").filter(col("c_custkey") % 50 === 1)
        .join(c.as("y"),
          col("x.c_mktsegment") === col("y.c_mktsegment") &&
            col("x.c_custkey") =!= col("y.c_custkey"))
        .select(col("x.c_custkey").as("a"), col("y.c_custkey").as("b"),
          (col("x.c_custkey") % 10 === col("y.c_custkey") % 10)
            .as("f_dec"),
          ((col("x.c_acctbal") >= 0) === (col("y.c_acctbal") >= 0))
            .as("f_sign"),
          (floor(col("x.c_acctbal") / lit(1000.0)) ===
            floor(col("y.c_acctbal") / lit(1000.0))).as("f_bucket"),
          (col("x.c_nationkey") === col("y.c_nationkey")).as("is_match")))
    val w = graft.operators.RecordLinkage.fieldWeights(
      pairs, "is_match", LinkageFields)
    graft.operators.RecordLinkage.score(pairs, w, LinkageFields)
      .select(col("a"), col("b"), col("f_dec"), col("f_sign"),
        col("f_bucket"), col("is_match"), col("score_micro"),
        col("score"))
  }

  val qLinkageSql: String = {
    def wPair(f: String) = {
      val m = s"((CAST(am_$f AS DOUBLE) + 1.0) / (CAST(nm AS DOUBLE) + 2.0))"
      val u = s"((CAST(au_$f AS DOUBLE) + 1.0) / (CAST(nu AS DOUBLE) + 2.0))"
      s"""CAST(floor(ln($m / $u) * 1000000.0) AS BIGINT) AS wa_$f,
         |    CAST(floor(ln((1.0 - $m) / (1.0 - $u)) * 1000000.0)
         |      AS BIGINT) AS wd_$f""".stripMargin
    }
    val cntCols = LinkageFields.map(f =>
      s"""count(*) FILTER (is_match AND $f) AS am_$f,
         |    count(*) FILTER (NOT is_match AND $f) AS au_$f""".stripMargin)
      .mkString(",\n    ")
    val scoreSum = LinkageFields.map(f =>
      s"(CASE WHEN $f THEN wa_$f ELSE wd_$f END)").mkString(" + ")
    s"""WITH pairs AS (
       |  SELECT x.c_custkey AS a, y.c_custkey AS b,
       |    x.c_custkey % 10 = y.c_custkey % 10 AS f_dec,
       |    (x.c_acctbal >= 0) = (y.c_acctbal >= 0) AS f_sign,
       |    floor(x.c_acctbal / 1000.0) = floor(y.c_acctbal / 1000.0)
       |      AS f_bucket,
       |    x.c_nationkey = y.c_nationkey AS is_match
       |  FROM customer x JOIN customer y
       |    ON x.c_mktsegment = y.c_mktsegment
       |   AND x.c_custkey <> y.c_custkey
       |  WHERE x.c_custkey % 50 = 1),
       |cnt AS (SELECT
       |    count(*) FILTER (is_match) AS nm,
       |    count(*) FILTER (NOT is_match) AS nu,
       |    $cntCols
       |  FROM pairs),
       |w AS (SELECT
       |    ${LinkageFields.map(wPair).mkString(",\n    ")}
       |  FROM cnt)
       |SELECT a, b, f_dec, f_sign, f_bucket, is_match,
       |  $scoreSum AS score_micro,
       |  CAST($scoreSum AS DOUBLE) / 1.0e6 AS score
       |FROM pairs CROSS JOIN w""".stripMargin
  }

  // ------------------------------------------------------ er_pipeline
  // The COMPLETE entity-resolution decision pipeline: deletion-screen
  // candidates (within one name edit) -> Fellegi-Sunter attribute
  // scoring (weights counted on the candidates themselves) -> positive
  // evidence gates the match edges -> star-contraction clusters -> one
  // keeper per entity by balance. Every stage is an already-oracled
  // mechanism; the composite pins that they compose bit-exactly.
  private val ErKeyCap = 2000
  private val ErFields = Seq("f_seg", "f_buck")

  def qErPipeline(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_custkey") < ErKeyCap)
    val raw = graft.operators.FuzzyJoin.deletionPairs(
      cust.select(col("c_custkey").as("id"), col("c_name").as("s")),
      "id", "s", maxDist = 1)
    def attrs(side: String) = cust.select(
      col("c_custkey").as(s"id_$side"),
      col("c_mktsegment").as(s"seg_$side"),
      floor(col("c_acctbal") / lit(1000.0)).as(s"bk_$side"),
      col("c_nationkey").as(s"n_$side"))
    val pairs = graft.core.CacheScope.session.retain(raw
      .join(attrs("a"), Seq("id_a")).join(attrs("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("seg_a") === col("seg_b")).as("f_seg"),
        (col("bk_a") === col("bk_b")).as("f_buck"),
        (col("n_a") === col("n_b")).as("is_match")))
    val w = graft.operators.RecordLinkage.fieldWeights(
      pairs, "is_match", ErFields)
    val edges = graft.operators.RecordLinkage.score(pairs, w, ErFields)
      .filter(col("score_micro") > 0)
      .select(col("id_a"), col("id_b"))
    val labels = graft.dedup.ConnectedComponents
      .labels(edges, "id_a", "id_b")
      .select(col("id"), col("cluster_id"))
    val wKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("entity_id"))
      .orderBy(col("c_acctbal").desc, col("id"))
    cust.select(col("c_custkey").as("id"), col("c_acctbal"))
      .join(labels, Seq("id"), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col("id")))
      .withColumn("keep", row_number().over(wKeep) === 1)
      .select(col("id"), col("entity_id"), col("keep"))
  }

  val qErPipelineSql: String = {
    def wPair(f: String) = {
      val m = s"((CAST(am_$f AS DOUBLE) + 1.0) / (CAST(nm AS DOUBLE) + 2.0))"
      val u = s"((CAST(au_$f AS DOUBLE) + 1.0) / (CAST(nu AS DOUBLE) + 2.0))"
      s"""CAST(floor(ln($m / $u) * 1000000.0) AS BIGINT) AS wa_$f,
         |    CAST(floor(ln((1.0 - $m) / (1.0 - $u)) * 1000000.0)
         |      AS BIGINT) AS wd_$f""".stripMargin
    }
    val cntCols = ErFields.map(f =>
      s"""count(*) FILTER (is_match AND $f) AS am_$f,
         |    count(*) FILTER (NOT is_match AND $f) AS au_$f""".stripMargin)
      .mkString(",\n    ")
    val scoreSum = ErFields.map(f =>
      s"(CASE WHEN $f THEN wa_$f ELSE wd_$f END)").mkString(" + ")
    s"""WITH RECURSIVE cand AS (
       |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |    a.c_mktsegment = b.c_mktsegment AS f_seg,
       |    floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
       |      AS f_buck,
       |    a.c_nationkey = b.c_nationkey AS is_match
       |  FROM customer a JOIN customer b
       |    ON a.c_custkey < b.c_custkey
       |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
       |  WHERE a.c_custkey < $ErKeyCap AND b.c_custkey < $ErKeyCap
       |    AND levenshtein(a.c_name, b.c_name) <= 1),
       |cnt AS (SELECT
       |    count(*) FILTER (is_match) AS nm,
       |    count(*) FILTER (NOT is_match) AS nu,
       |    $cntCols
       |  FROM cand),
       |w AS (SELECT
       |    ${ErFields.map(wPair).mkString(",\n    ")}
       |  FROM cnt),
       |scored AS (SELECT id_a, id_b, $scoreSum AS sm
       |  FROM cand CROSS JOIN w),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM scored WHERE sm > 0
       |          UNION SELECT id_b, id_a FROM scored WHERE sm > 0),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e
       |    JOIN reach ON reach.node = e.dst),
       |labels AS (SELECT node AS id, MIN(r) AS cluster_id FROM reach
       |           GROUP BY node)
       |SELECT c.c_custkey AS id,
       |  COALESCE(l.cluster_id, c.c_custkey) AS entity_id,
       |  (row_number() OVER (
       |     PARTITION BY COALESCE(l.cluster_id, c.c_custkey)
       |     ORDER BY c.c_acctbal DESC, c.c_custkey) = 1) AS keep
       |FROM customer c LEFT JOIN labels l ON l.id = c.c_custkey
       |WHERE c.c_custkey < $ErKeyCap""".stripMargin
  }

  // ------------------------------------------------------- curriculum
  // Difficulty-ordered training curriculum: syllables-per-word buckets
  // (easy first), deterministic hash shuffle WITHIN each bucket, and a
  // (bucket, shard, pos) layout so consumers stream buckets in order
  // with parallel shards — no global sort anywhere.
  private val CurriculumShards = 16

  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val txt = graft.functions.TextFunctions.normalize(col("text"))
    val words = size(regexp_extract_all(txt, lit("[a-z0-9']+"), lit(0)))
      .cast("long")
    val syllables = size(regexp_extract_all(txt, lit("[aeiouy]+"),
      lit(0))).cast("long")
    val base = t(s, dir, "documents")
      .select(col("doc_id"), words.as("w"), syllables.as("syl"))
      .filter(col("w") > 0)
    // spw% = (100·syl) div w, bucketed by 20 points — all exact ints
    val spw = ((col("syl") * 100 - (col("syl") * 100) % col("w")) /
      col("w")).cast("long")
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":cur"))), 1, 12), 16, 10).cast("long")
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    base
      .withColumn("bucket", ((spw - spw % 20) / 20).cast("long"))
      .withColumn("h", h)
      .withColumn("shard", (col("h") % CurriculumShards).cast("int"))
      .withColumn("pos", row_number().over(wdw).cast("long"))
      .select(col("doc_id"), col("bucket"), col("shard"), col("pos"))
  }

  val qCurriculumSql: String = {
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    val h = hexFold(
      "substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 12)")
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(
       |      ${QueriesText.sqlCollapse("text")}), '[a-z0-9'']+'))
       |      AS BIGINT) AS w,
       |    CAST(len(regexp_extract_all(lower(
       |      ${QueriesText.sqlCollapse("text")}), '[aeiouy]+'))
       |      AS BIGINT) AS syl
       |  FROM documents),
       |b AS (SELECT doc_id,
       |    ((syl * 100 - (syl * 100) % w) // w
       |      - ((syl * 100 - (syl * 100) % w) // w) % 20) // 20
       |      AS bucket,
       |    $h AS h
       |  FROM c WHERE w > 0),
       |sh AS (SELECT doc_id, bucket, h,
       |    CAST(h % $CurriculumShards AS INT) AS shard FROM b)
       |SELECT doc_id, bucket, shard,
       |  CAST(row_number() OVER (PARTITION BY bucket, shard
       |    ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM sh""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_linkage", qLinkage, qLinkageSql),
    Query("q_er_pipeline", qErPipeline, qErPipelineSql),
    Query("q_curriculum", qCurriculum, qCurriculumSql),
    Query("q_betweenness", qBetweenness, qBetweennessSql),
    Query("q_sprt", qSprt, qSprtSql),
    Query("q_anova2", qAnova2, qAnova2Sql),
    Query("q_grubbs", qGrubbs, qGrubbsSql),
    Query("q_bartlett", qBartlett, qBartlettSql),
    Query("q_durbin_watson", qDurbinWatson, qDurbinWatsonSql),
    Query("q_periodogram", qPeriodogram, qPeriodogramSql),
    Query("q_closeness", qCloseness, qClosenessSql),
    Query("q_poisson_irls", qPoissonIrls, qPoissonIrlsSql),
    Query("q_good_turing", qGoodTuring, qGoodTuringSql),
    Query("q_jarque_bera", qJarqueBera, qJarqueBeraSql),
    Query("q_cohens_d", qCohensD, qCohensDSql),
    Query("q_cliffs_delta", qCliffsDelta, qCliffsDeltaSql),
    Query("q_perm_test", qPermTest, qPermTestSql),
    Query("q_mutual_info", qMutualInfo, qMutualInfoSql),
    Query("q_diversity", qDiversity, qDiversitySql),
    Query("q_zipf", qZipf, qZipfSql),
    Query("q_kneser_ney", qKneserNey, qKneserNeySql),
    Query("q_dbscan", qDbscan, qDbscanSql),
  )
}
