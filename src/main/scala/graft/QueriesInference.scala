package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Inference

/** Round-12 query group: k-sample classical inference — rank ANOVA
  * (Kruskal-Wallis), spread equality (Brown-Forsythe), matched binary
  * treatments (Cochran's Q), internal consistency (Cronbach's alpha),
  * and variance decomposition (one-way ICC). Each oracle replays the
  * operator's integral micro-unit algebra in HUGEINT and its closing
  * scalar formulas in identically-shaped DOUBLE expressions. */
object QueriesInference {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------- kruskal
  // Did ANY event type's value distribution shift, per day? The
  // k-sample rank test over the same (day, event_type, value) frame
  // q_welch reads pairwise.
  def qKruskal(s: SparkSession, dir: String): DataFrame =
    Inference.kruskalWallisByKey(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      "day", "event_type", "value")

  val qKruskalSql: String =
    """WITH src AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type AS g, value AS v
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |pvg AS (SELECT day, v, g, count(*) AS cg FROM src GROUP BY 1, 2, 3),
      |w AS (SELECT day, v, g, cg,
      |        sum(cg) OVER (PARTITION BY day, v) AS c,
      |        sum(cg) OVER (PARTITION BY day ORDER BY v
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuminc
      |      FROM pvg),
      |ag AS (SELECT day, g, sum(cg) AS n_g,
      |        sum(CAST(cg AS HUGEINT)
      |            * (2 * (cuminc - c) + c + 1)) AS r2,
      |        sum((CAST(c AS HUGEINT) * c - 1) * cg) AS tiep
      |      FROM w GROUP BY 1, 2),
      |tm AS (SELECT day, n_g, tiep,
      |        (CAST(1000000 AS HUGEINT) * r2 * r2) // (4 * n_g) AS term
      |      FROM ag),
      |f AS (SELECT day, count(*) AS n_groups, CAST(sum(n_g) AS BIGINT) AS n,
      |        sum(term) AS s_micro, sum(tiep) AS ties
      |      FROM tm GROUP BY 1),
      |h AS (SELECT day, n_groups, n,
      |        12.0 * CAST(s_micro AS DOUBLE) / 1000000.0
      |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
      |          - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h0,
      |        1.0 - CAST(ties AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |             - CAST(n AS DOUBLE)) AS cf
      |      FROM f)
      |SELECT day, n_groups, n,
      |  CASE WHEN n_groups >= 2 AND n >= 2 THEN h0 END AS h,
      |  CASE WHEN n_groups >= 2 AND n >= 2 AND cf > 0.0
      |    THEN h0 / cf END AS h_adj
      |FROM h""".stripMargin

  // --------------------------------------------------- brown_forsythe
  // Are the event types' value SPREADS equal, per day? Median-centered
  // Levene — the scale companion of q_kruskal's location test.
  def qBrownForsythe(s: SparkSession, dir: String): DataFrame =
    Inference.brownForsytheByKey(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      "day", "event_type", "value")

  val qBrownForsytheSql: String =
    """WITH src AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |med AS (SELECT day, g,
      |          CAST(quantile_cont(vm, 0.5) * 2 AS BIGINT) AS m2
      |        FROM src GROUP BY 1, 2),
      |z AS (SELECT s.day, s.g, abs(s.vm * 2 - m.m2) AS z2
      |      FROM src s JOIN med m ON s.day = m.day AND s.g = m.g),
      |ag AS (SELECT day, g, count(*) AS n_g,
      |        sum(CAST(z2 AS HUGEINT)) AS s,
      |        sum(CAST(z2 AS HUGEINT) * z2) AS q
      |      FROM z GROUP BY 1, 2),
      |tm AS (SELECT day, n_g, s, q,
      |        (CAST(1000000 AS HUGEINT) * s * s) // n_g AS term
      |      FROM ag),
      |f AS (SELECT day, count(*) AS n_groups, CAST(sum(n_g) AS BIGINT) AS n,
      |        sum(term) AS a_micro, sum(s) AS ss, sum(q) AS qq
      |      FROM tm GROUP BY 1),
      |m AS (SELECT day, n_groups, n,
      |        CAST(a_micro AS DOUBLE) / 1000000.0 AS ad,
      |        CAST(ss AS DOUBLE) AS ssd, CAST(qq AS DOUBLE) AS qqd,
      |        CAST(n AS DOUBLE) AS nd, CAST(n_groups AS DOUBLE) AS kd
      |      FROM f)
      |SELECT day, n_groups, n,
      |  CASE WHEN n_groups >= 2 AND n > n_groups AND qqd - ad > 0.0
      |    THEN (nd - kd) / (kd - 1.0) * (ad - ssd * ssd / nd)
      |      / (qqd - ad) END AS w
      |FROM m""".stripMargin

  // -------------------------------------------------------- cochran_q
  // Do click / view / purchase HEAVY-usage rates (≥ 14 events of the
  // type) differ across the SAME users? Matched-design k-treatment
  // McNemar. (The ≥ 1 flag is degenerate on this data — every user has
  // all three types, so the Q denominator k·T − ΣR² would be 0; the
  // threshold keeps the per-subject rows mixed at every SF.)
  private val CochranTypes = Seq("click", "view", "purchase")
  private val CochranMinEvents = 14

  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val flags = CochranTypes.map(et =>
      when(count_if(col("event_type") === et) >= CochranMinEvents, 1L)
        .otherwise(0L).as(s"f_$et"))
    val subj = t(s, dir, "events")
      .groupBy(col("user_id")).agg(flags.head, flags.tail: _*)
    Inference.cochranQ(subj, CochranTypes.map(et => s"f_$et"))
  }

  val qCochranQSql: String =
    """WITH fl AS (
      |  SELECT user_id,
      |    CASE WHEN count(*) FILTER (WHERE event_type = 'click') >= 14
      |      THEN 1 ELSE 0 END AS f1,
      |    CASE WHEN count(*) FILTER (WHERE event_type = 'view') >= 14
      |      THEN 1 ELSE 0 END AS f2,
      |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
      |      THEN 1 ELSE 0 END AS f3
      |  FROM events GROUP BY 1),
      |a AS (SELECT count(*) AS n_subjects,
      |        CAST(sum(f1) AS HUGEINT) AS c1, CAST(sum(f2) AS HUGEINT) AS c2,
      |        CAST(sum(f3) AS HUGEINT) AS c3,
      |        CAST(sum(f1 + f2 + f3) AS HUGEINT) AS t,
      |        sum(CAST(f1 + f2 + f3 AS HUGEINT) * (f1 + f2 + f3)) AS r2
      |      FROM fl)
      |SELECT n_subjects, CAST(t AS BIGINT) AS t,
      |  CASE WHEN CAST(3 * t - r2 AS DOUBLE) > 0.0 THEN
      |    CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t) AS DOUBLE)
      |      / CAST(3 * t - r2 AS DOUBLE) END AS q
      |FROM a""".stripMargin

  // --------------------------------------------------------- cronbach
  // Do lineitem's four numeric "items" move together per return flag?
  // (A deliberately heterogeneous item set — alpha is the readout, not
  // an endorsement of the scale.)
  private val CronbachItems =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def qCronbach(s: SparkSession, dir: String): DataFrame =
    Inference.cronbachAlpha(t(s, dir, "lineitem"), "l_returnflag",
      CronbachItems)

  val qCronbachSql: String =
    """WITH src AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
      |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x3,
      |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS x4
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
      |a AS (SELECT l_returnflag, count(*) AS n,
      |        sum(CAST(x1 AS HUGEINT)) AS sx1,
      |        sum(CAST(x1 AS HUGEINT) * x1) AS sxx1,
      |        sum(CAST(x2 AS HUGEINT)) AS sx2,
      |        sum(CAST(x2 AS HUGEINT) * x2) AS sxx2,
      |        sum(CAST(x3 AS HUGEINT)) AS sx3,
      |        sum(CAST(x3 AS HUGEINT) * x3) AS sxx3,
      |        sum(CAST(x4 AS HUGEINT)) AS sx4,
      |        sum(CAST(x4 AS HUGEINT) * x4) AS sxx4,
      |        sum(CAST(x1 + x2 + x3 + x4 AS HUGEINT)) AS sxt,
      |        sum(CAST(x1 + x2 + x3 + x4 AS HUGEINT)
      |            * (x1 + x2 + x3 + x4)) AS sxxt
      |      FROM src GROUP BY 1),
      |v AS (SELECT l_returnflag, n,
      |        (CAST(n AS HUGEINT) * sxx1 - sx1 * sx1)
      |        + (CAST(n AS HUGEINT) * sxx2 - sx2 * sx2)
      |        + (CAST(n AS HUGEINT) * sxx3 - sx3 * sx3)
      |        + (CAST(n AS HUGEINT) * sxx4 - sx4 * sx4) AS sd,
      |        (CAST(n AS HUGEINT) * sxxt - sxt * sxt) AS td
      |      FROM a)
      |SELECT l_returnflag, n,
      |  CASE WHEN n >= 2 AND td > 0
      |    THEN 4.0 / 3.0 * (CAST(td - sd AS DOUBLE) / CAST(td AS DOUBLE))
      |    END AS alpha
      |FROM v""".stripMargin

  // ------------------------------------------------- cochran_armitage
  // Does the return rate trend with order quantity? Ordered-exposure
  // dose-response z over one integer-moment aggregate.
  def qCochranArmitage(s: SparkSession, dir: String): DataFrame =
    Inference.cochranArmitage(
      t(s, dir, "lineitem")
        .withColumn("ret", (col("l_returnflag") === "R").cast("long")),
      "l_quantity", "ret")

  val qCochranArmitageSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS s,
      |    CAST(l_returnflag = 'R' AS BIGINT) AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
      |a AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS r,
      |        sum(CAST(s AS HUGEINT) * y) AS ssy,
      |        sum(CAST(s AS HUGEINT)) AS ss,
      |        sum(CAST(s AS HUGEINT) * s) AS sss
      |      FROM src)
      |SELECT n, r,
      |  CASE WHEN r > 0 AND r < n
      |      AND (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sss AS DOUBLE)
      |           - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
      |             / CAST(n AS DOUBLE)) > 0.0
      |    THEN (CAST(ssy AS DOUBLE)
      |        - CAST(ss AS DOUBLE) * CAST(r AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |      / sqrt((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sss AS DOUBLE)
      |           - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
      |             / CAST(n AS DOUBLE)))
      |    END AS z
      |FROM a""".stripMargin

  // -------------------------------------------------------------- icc
  // How much of order totalprice variance is BETWEEN customers?
  // One-way random-effects ICC(1,1), unbalanced Searle n0.
  def qIcc(s: SparkSession, dir: String): DataFrame =
    Inference.iccOneWay(t(s, dir, "orders"), "o_custkey", "o_totalprice")

  val qIccSql: String =
    """WITH src AS (
      |  SELECT o_custkey AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
      |pg AS (SELECT g, count(*) AS n_g, sum(CAST(vm AS HUGEINT)) AS s,
      |        sum(CAST(vm AS HUGEINT) * vm) AS q
      |      FROM src GROUP BY 1),
      |tm AS (SELECT n_g, s, q,
      |        (CAST(1000000 AS HUGEINT) * s * s) // n_g AS term,
      |        CAST(n_g AS HUGEINT) * n_g AS n2
      |      FROM pg),
      |f AS (SELECT count(*) AS j, CAST(sum(n_g) AS BIGINT) AS n,
      |        sum(term) AS a_micro, sum(s) AS t_sum, sum(q) AS q_sum,
      |        sum(n2) AS n2_sum
      |      FROM tm),
      |m AS (SELECT n, j,
      |        (CAST(a_micro AS DOUBLE) / 1000000.0
      |          - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
      |            / CAST(n AS DOUBLE))
      |          / (CAST(j AS DOUBLE) - 1.0) / 10000.0 AS msb,
      |        (CAST(q_sum AS DOUBLE)
      |          - CAST(a_micro AS DOUBLE) / 1000000.0)
      |          / (CAST(n AS DOUBLE) - CAST(j AS DOUBLE))
      |          / 10000.0 AS msw,
      |        (CAST(n AS DOUBLE)
      |          - CAST(n2_sum AS DOUBLE) / CAST(n AS DOUBLE))
      |          / (CAST(j AS DOUBLE) - 1.0) AS n0
      |      FROM f)
      |SELECT n, j,
      |  CASE WHEN j >= 2 AND n > j THEN msb END AS msb,
      |  CASE WHEN j >= 2 AND n > j THEN msw END AS msw,
      |  CASE WHEN j >= 2 AND n > j
      |      AND msb + (n0 - 1.0) * msw > 0.0
      |    THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END AS icc
      |FROM m""".stripMargin

  // ------------------------------------------------------------ anova
  // Classic one-way F: does mean event value differ across the five
  // event types? Same micro-unit moment engine as q_icc, so the two
  // variance readouts can never disagree.
  def qAnova(s: SparkSession, dir: String): DataFrame =
    Inference.oneWayAnovaF(t(s, dir, "events"), "event_type", "value")

  val qAnovaSql: String =
    """WITH src AS (
      |  SELECT event_type AS g,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |pg AS (SELECT g, count(*) AS n_g, sum(CAST(vm AS HUGEINT)) AS s,
      |        sum(CAST(vm AS HUGEINT) * vm) AS q
      |      FROM src GROUP BY 1),
      |tm AS (SELECT n_g, s, q,
      |        (CAST(1000000 AS HUGEINT) * s * s) // n_g AS term
      |      FROM pg),
      |f AS (SELECT count(*) AS j, CAST(sum(n_g) AS BIGINT) AS n,
      |        sum(term) AS a_micro, sum(s) AS t_sum, sum(q) AS q_sum
      |      FROM tm),
      |m AS (SELECT n, j,
      |        (CAST(a_micro AS DOUBLE) / 1000000.0
      |          - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
      |            / CAST(n AS DOUBLE))
      |          / (CAST(j AS DOUBLE) - 1.0) / 10000.0 AS msb,
      |        (CAST(q_sum AS DOUBLE)
      |          - CAST(a_micro AS DOUBLE) / 1000000.0)
      |          / (CAST(n AS DOUBLE) - CAST(j AS DOUBLE))
      |          / 10000.0 AS msw
      |      FROM f)
      |SELECT n, j, CAST(j - 1 AS BIGINT) AS df1,
      |  CAST(n - j AS BIGINT) AS df2,
      |  CASE WHEN j >= 2 AND n > j THEN msb END AS msb,
      |  CASE WHEN j >= 2 AND n > j THEN msw END AS msw,
      |  CASE WHEN j >= 2 AND n > j AND msw > 0.0
      |    THEN msb / msw END AS f
      |FROM m""".stripMargin

  // -------------------------------------------------------------- ad2
  // Anderson-Darling two-sample on click vs purchase values — the
  // tail-weighted companion of q_ks over the same pooled-distinct
  // machinery; inner terms are exact micro integral divisions.
  def qAd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.andersonDarling2(t(s, dir, "events"),
      "event_type", "click", "purchase", "value")

  val qAd2Sql: String = {
    def hiLo(m: String, pow: String) = {
      val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
      val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
      val sgn = s"(CASE WHEN $m < 0 THEN -1.0 WHEN $m = 0 THEN 0.0" +
        " ELSE 1.0 END)"
      s"(($sgn * ($hi * 9007199254740992.0 + $lo)) / $pow)"
    }
    s"""WITH src AS (
       |  SELECT event_type, value AS v FROM events
       |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
       |pv AS (SELECT v,
       |    count(*) FILTER (event_type = 'click') AS ca,
       |    count(*) FILTER (event_type = 'purchase') AS cb
       |  FROM src GROUP BY 1),
       |cum AS (SELECT v, ca, cb,
       |    sum(ca) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |    sum(cb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
       |  FROM pv),
       |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(cb) AS BIGINT) AS nb FROM pv),
       |base AS (SELECT *, na + nb AS nn, cuma + cumb AS bb, ca + cb AS l
       |  FROM cum CROSS JOIN tot
       |  WHERE cuma + cumb < na + nb),
       |terms AS (SELECT na, nb,
       |    (CAST(1000000 AS HUGEINT) * l *
       |      ((CAST(nn AS HUGEINT) * cuma - CAST(na AS HUGEINT) * bb)
       |       * (CAST(nn AS HUGEINT) * cuma - CAST(na AS HUGEINT) * bb)))
       |      // (bb * (nn - bb)) AS ta,
       |    (CAST(1000000 AS HUGEINT) * l *
       |      ((CAST(nn AS HUGEINT) * cumb - CAST(nb AS HUGEINT) * bb)
       |       * (CAST(nn AS HUGEINT) * cumb - CAST(nb AS HUGEINT) * bb)))
       |      // (bb * (nn - bb)) AS tb
       |  FROM base),
       |agg AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
       |    CAST(max(nb) AS BIGINT) AS n_b,
       |    sum(ta) AS sa, sum(tb) AS sb FROM terms)
       |SELECT n_a, n_b,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN
       |    (${hiLo("sa", "1.0e6")} / CAST(n_a AS DOUBLE)
       |     + ${hiLo("sb", "1.0e6")} / CAST(n_b AS DOUBLE))
       |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) END AS a2
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_anova", qAnova, qAnovaSql),
    Query("q_ad2", qAd2, qAd2Sql),
    Query("q_kruskal", qKruskal, qKruskalSql),
    Query("q_brown_forsythe", qBrownForsythe, qBrownForsytheSql),
    Query("q_cochran_q", qCochranQ, qCochranQSql),
    Query("q_cochran_armitage", qCochranArmitage, qCochranArmitageSql),
    Query("q_cronbach", qCronbach, qCronbachSql),
    Query("q_icc", qIcc, qIccSql),
  )
}
