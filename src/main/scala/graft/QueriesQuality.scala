package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Benford, Expectations, Interpolate, NegativeSampling,
  Robust, Skyline}

/** Round-8 query group: declarative data-quality expectations, robust
  * statistics, gap interpolation, audit screens, and curation-frontier /
  * negative-sampling primitives.
  */
object QueriesQuality {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------------- expectations
  // Declarative constraint suite over customer, one aggregation pass +
  // one FK anti-join row. The oracle replays every check as independent
  // SQL aggregates — an independent formulation of the same contract.
  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val NamePattern = "^Customer#[0-9]+$"

  def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val cust = t(s, dir, "customer")
    run(cust, Seq(
      NotNull("c_name"),
      Unique(Seq("c_custkey")),
      InRange("c_acctbal", lit(-1000.0), lit(10000.0)),
      AcceptedValues("c_mktsegment", Segments),
      Matches("c_name", NamePattern)))
      .unionByName(
        foreignKey(cust, "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
  }

  val qExpectationsSql: String = {
    val seg = Segments.map(v => s"'$v'").mkString(", ")
    s"""SELECT 'not_null:c_name' AS "check",
       |  count(*) FILTER (WHERE c_name IS NULL) AS violations,
       |  count(*) AS total,
       |  count(*) FILTER (WHERE c_name IS NULL) = 0 AS passed
       |FROM customer
       |UNION ALL
       |SELECT 'unique:c_custkey',
       |  count(*) FILTER (WHERE c_custkey IS NOT NULL)
       |    - count(DISTINCT c_custkey),
       |  count(*),
       |  count(*) FILTER (WHERE c_custkey IS NOT NULL)
       |    = count(DISTINCT c_custkey)
       |FROM customer
       |UNION ALL
       |SELECT 'in_range:c_acctbal',
       |  count(*) FILTER (WHERE c_acctbal IS NOT NULL
       |    AND (c_acctbal < -1000.0 OR c_acctbal > 10000.0)),
       |  count(*),
       |  count(*) FILTER (WHERE c_acctbal IS NOT NULL
       |    AND (c_acctbal < -1000.0 OR c_acctbal > 10000.0)) = 0
       |FROM customer
       |UNION ALL
       |SELECT 'accepted_values:c_mktsegment',
       |  count(*) FILTER (WHERE c_mktsegment IS NOT NULL
       |    AND c_mktsegment NOT IN ($seg)),
       |  count(*),
       |  count(*) FILTER (WHERE c_mktsegment IS NOT NULL
       |    AND c_mktsegment NOT IN ($seg)) = 0
       |FROM customer
       |UNION ALL
       |SELECT 'matches:c_name',
       |  count(*) FILTER (WHERE c_name IS NOT NULL
       |    AND NOT regexp_matches(c_name, '$NamePattern')),
       |  count(*),
       |  count(*) FILTER (WHERE c_name IS NOT NULL
       |    AND NOT regexp_matches(c_name, '$NamePattern')) = 0
       |FROM customer
       |UNION ALL
       |SELECT 'foreign_key:c_nationkey',
       |  (SELECT count(*) FROM customer c
       |   WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS (
       |     SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
       |  (SELECT count(*) FROM customer),
       |  (SELECT count(*) FROM customer c
       |   WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS (
       |     SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) = 0
       |""".stripMargin
  }

  // -------------------------------------------------------- interpolate
  // Every 5th event's value nulled, then linearly re-interpolated per
  // user over event time. Oracle replays the bracketing windows with
  // IGNORE NULLS and the identical double formula shape — bit-exact
  // fills (see Interpolate scaladoc).
  def qInterpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      col("event_id"), col("user_id"), col("ts"),
      when(col("event_id") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("value"))
    Interpolate.linear(ev, "user_id", "ts", "event_id", "value")
      .select(col("event_id"), col("user_id"), col("value_interp"))
  }

  val qInterpolateSql: String =
    """WITH src AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tu,
      |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |w AS (
      |  SELECT event_id, user_id, tu, v,
      |    last_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
      |    last_value(v IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
      |    first_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
      |    first_value(v IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
      |  FROM src)
      |SELECT event_id, user_id,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN
      |         CASE WHEN t1 = t0 THEN v0
      |              ELSE v0 + (v1 - v0) *
      |                (CAST(tu - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
      |         END
      |  END AS value_interp
      |FROM w""".stripMargin

  // ---------------------------------------------------------------- mad
  // MAD outlier screen on event values per event type, k = 3 (caller
  // folds the 1.4826 normal-consistency constant into k if desired).
  // Exact rank-select medians make every output column bit-replayable.
  private val MadK = 3.0

  def qMad(s: SparkSession, dir: String): DataFrame =
    Robust.madOutliers(
      t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value")),
      "event_type", "value", "event_id", MadK)
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("absdev"), col("is_outlier"))

  val qMadSql: String =
    s"""WITH rows_ AS (
       |  SELECT event_id, event_type, value FROM events
       |  WHERE value IS NOT NULL),
       |r1 AS (
       |  SELECT event_type, value, event_id,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM rows_),
       |med AS (
       |  SELECT event_type, value AS med FROM r1
       |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
       |wm AS (
       |  SELECT r.event_id, r.event_type, r.value, m.med,
       |    abs(r.value - m.med) AS absdev
       |  FROM rows_ r JOIN med m ON r.event_type = m.event_type),
       |r2 AS (
       |  SELECT event_type, absdev, event_id,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY absdev, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM wm),
       |mad AS (
       |  SELECT event_type, absdev AS mad FROM r2
       |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
       |SELECT w.event_id, w.event_type, w.value, w.med, d.mad, w.absdev,
       |  w.absdev > $MadK * d.mad AS is_outlier
       |FROM wm w JOIN mad d ON w.event_type = d.event_type""".stripMargin

  // --------------------------------------------------------- neg sample
  // Deterministic ring negatives: k=2 partners per document. Oracle
  // replays the md5 bucket/ring/offset construction with the hex-fold
  // idiom — same partner set on any engine, any partitioning.
  private val NegK = 2
  private val NegBuckets = 8

  def qNegSample(s: SparkSession, dir: String): DataFrame =
    NegativeSampling.ringNegatives(
      t(s, dir, "documents"), "doc_id", NegK, NegBuckets)

  val qNegSampleSql: String = {
    def fold(e: String) = "list_reduce(list_transform(" +
      s"regexp_split_to_array(substr($e, 1, 6), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
      "(a, x) -> a * 16 + x)"
    s"""WITH ring AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
       |b AS (
       |  SELECT doc_id, m, ${fold("m")} % $NegBuckets AS bk FROM ring),
       |p AS (
       |  SELECT doc_id, m, bk,
       |    row_number() OVER (PARTITION BY bk ORDER BY m, doc_id) AS pos,
       |    count(*) OVER (PARTITION BY bk) AS n
       |  FROM b),
       |a AS (
       |  SELECT doc_id, bk, pos, n, j AS draw,
       |    1 + (${fold("md5(doc_id || ':' || j)")} % (n - 1)) AS off
       |  FROM p CROSS JOIN (VALUES (1), (2)) t(j)
       |  WHERE n > 1),
       |x AS (
       |  SELECT doc_id, bk, draw,
       |    1 + ((pos - 1 + off) % n) AS negpos FROM a)
       |SELECT x.doc_id AS anchor_id, x.draw, p2.doc_id AS neg_id
       |FROM x JOIN p p2 ON x.bk = p2.bk AND x.negpos = p2.pos""".stripMargin
  }

  // -------------------------------------------------------------- pareto
  // 2-D Pareto frontier of (quantity, price) over a bounded lineitem
  // slice — both maximized. The oracle is the independent O(n²)
  // dominance NOT EXISTS over the distinct points.
  def qPareto(s: SparkSession, dir: String): DataFrame =
    Skyline.pareto2d(
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_orderkey") % 13 === 0),
      "l_quantity", "l_extendedprice")

  val qParetoSql: String =
    """WITH pts AS (
      |  SELECT DISTINCT l_quantity, l_extendedprice FROM lineitem
      |  WHERE l_returnflag = 'R' AND l_orderkey % 13 = 0
      |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
      |SELECT l_quantity, l_extendedprice FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.l_quantity >= p.l_quantity
      |    AND q.l_extendedprice >= p.l_extendedprice
      |    AND (q.l_quantity > p.l_quantity
      |         OR q.l_extendedprice > p.l_extendedprice))""".stripMargin

  // ------------------------------------------------------------- benford
  // First-digit distribution of prices vs Benford expectation. Expected
  // frequencies are embedded as shortest-round-trip literals computed
  // ONCE (Benford.expectedFreqs) — both engines parse the identical
  // doubles, sidestepping libm log10 ulp differences.
  def qBenford(s: SparkSession, dir: String): DataFrame =
    Benford.firstDigit(t(s, dir, "lineitem"), "l_extendedprice", scale = 2)

  val qBenfordSql: String = {
    val values = Benford.expectedFreqs
      // String literal, not bare numeric: DuckDB parses a bare decimal
      // literal as DECIMAL first (double conversion then loses the last
      // ulp); a VARCHAR cast is a correctly-rounded strtod.
      .map { case (d, e) => s"($d, CAST('$e' AS DOUBLE))" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(round(abs(l_extendedprice)
       |      * power(10, 2)) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
       |    AS digit
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
       |c AS (SELECT digit, count(*) AS n FROM d WHERE digit >= 1
       |      GROUP BY 1),
       |t AS (SELECT sum(n) AS total FROM c),
       |e(digit, expected) AS (VALUES $values)
       |SELECT c.digit, CAST(c.n AS BIGINT) AS n,
       |  CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS freq,
       |  e.expected,
       |  CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) - e.expected
       |    AS deviation
       |FROM c CROSS JOIN t JOIN e ON c.digit = e.digit""".stripMargin
  }

  // --------------------------------------------------------------- assoc
  // Market-basket association rules over order baskets: parts that ship
  // together, with support/confidence/lift. Pair work is bounded by
  // basket size (≤ 13 items per order in this data) — see AssocRules.
  private val AssocMinPairs = 3L

  def qAssoc(s: SparkSession, dir: String): DataFrame =
    graft.operators.AssocRules.pairRules(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey", AssocMinPairs)

  val qAssocSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |ic AS (SELECT i, count(*) AS n_item FROM items GROUP BY 1),
       |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
       |p AS (
       |  SELECT l.i AS ia, r.i AS ib, count(*) AS n_pair
       |  FROM items l JOIN items r ON l.b = r.b AND l.i < r.i
       |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinPairs),
       |d AS (
       |  SELECT ia AS antecedent, ib AS consequent, n_pair FROM p
       |  UNION ALL
       |  SELECT ib, ia, n_pair FROM p)
       |SELECT d.antecedent, d.consequent,
       |  CAST(d.n_pair AS BIGINT) AS n_pair,
       |  CAST(a.n_item AS BIGINT) AS n_ante,
       |  CAST(c.n_item AS BIGINT) AS n_cons,
       |  CAST(nb.n_baskets AS BIGINT) AS n_baskets,
       |  CAST(d.n_pair AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
       |  CAST(d.n_pair AS DOUBLE) / CAST(a.n_item AS DOUBLE) AS confidence,
       |  CAST(d.n_pair AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
       |    / (CAST(a.n_item AS DOUBLE) * CAST(c.n_item AS DOUBLE)) AS lift
       |FROM d
       |JOIN ic a ON d.antecedent = a.i
       |JOIN ic c ON d.consequent = c.i
       |CROSS JOIN nb""".stripMargin

  // ---------------------------------------------------------------- bins
  // Equal-frequency decile binning of prices per return flag, with nulls
  // kept out of the ranking. The oracle uses DuckDB's native ntile over
  // the non-null subset — an independent formulation of Discretize's
  // arithmetic ntile (see its scaladoc for why the arithmetic form).
  def qBins(s: SparkSession, dir: String): DataFrame =
    graft.operators.Discretize.equalFrequency(
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"))
        .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_returnflag", "l_extendedprice", "lid", bins = 10)
      .drop("lid")

  val qBinsSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |    l_orderkey * 8 + l_linenumber AS lid
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  CAST(ntile(10) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice, lid) AS INTEGER) AS bin
      |FROM src WHERE l_extendedprice IS NOT NULL
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  CAST(NULL AS INTEGER)
      |FROM src WHERE l_extendedprice IS NULL""".stripMargin

  // ---------------------------------------------------------- attribution
  // First/last-touch conversion attribution: purchases attributed to the
  // user's earliest and most recent click/view, last-touch voided beyond
  // a 3-day lookback. One per-user sort; see Attribution.
  private val TouchTypes = Seq("click", "view")
  private val AttribLagUs = 3L * 86400L * 1000000L

  def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.singleTouch(
      t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
      TouchTypes, "purchase", Some(AttribLagUs))

  val qAttributionSql: String =
    s"""WITH src AS (
       |  SELECT event_id, user_id, ts, epoch_us(ts) AS tu, event_type
       |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
       |w AS (
       |  SELECT *,
       |    first_value(CASE WHEN event_type IN ('click', 'view')
       |        THEN tu END IGNORE NULLS) OVER win AS ft_t,
       |    first_value(CASE WHEN event_type IN ('click', 'view')
       |        THEN event_id END IGNORE NULLS) OVER win AS ft_id,
       |    last_value(CASE WHEN event_type IN ('click', 'view')
       |        THEN tu END IGNORE NULLS) OVER win AS lt_t,
       |    last_value(CASE WHEN event_type IN ('click', 'view')
       |        THEN event_id END IGNORE NULLS) OVER win AS lt_id
       |  FROM src
       |  WINDOW win AS (PARTITION BY user_id ORDER BY tu, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT user_id, event_id AS conv_id, ts AS conv_ts,
       |  ft_id AS first_touch_id,
       |  make_timestamp(ft_t) AS first_touch_ts,
       |  CASE WHEN tu - lt_t <= $AttribLagUs THEN lt_id END
       |    AS last_touch_id,
       |  CASE WHEN tu - lt_t <= $AttribLagUs THEN make_timestamp(lt_t) END
       |    AS last_touch_ts
       |FROM w WHERE event_type = 'purchase'""".stripMargin

  // ------------------------------------------------------------- decompose
  // Classical additive seasonal decomposition of the daily value sums
  // per event type (period 7, centered ±3 rolling trend): calendar
  // structure vs trend vs noise, so a weekly rhythm can't masquerade
  // as drift in the cusum/page-hinkley screens beside it. Every mean
  // is an exact toward-zero integral division at micro scale; the
  // oracle replays the rolling window, both phase aggregates, and the
  // re-centering.
  def qDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events").filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("pos"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    graft.operators.Decompose.additiveMicro(
      daily, "event_type", "pos", "v", period = 7, halfWin = 3)
  }

  val qDecomposeSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS pos,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, pos, v,
      |    CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    count(*) OVER w AS wn,
      |    sum(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS ws
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY pos
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t AS (
      |  SELECT event_type, pos, v, c,
      |    CASE WHEN wn = 7
      |      THEN (CAST(ws AS HUGEINT) * 10000) // wn END AS trend_micro
      |  FROM b),
      |d AS (
      |  SELECT event_type, pos % 7 AS ph,
      |    CAST(c AS HUGEINT) * 10000 - trend_micro AS dd
      |  FROM t WHERE trend_micro IS NOT NULL),
      |p AS (SELECT event_type, ph, sum(dd) // count(*) AS pm
      |  FROM d GROUP BY 1, 2),
      |a AS (SELECT event_type, sum(pm) // count(*) AS adj
      |  FROM p GROUP BY 1),
      |se AS (
      |  SELECT p.event_type, p.ph,
      |    CAST(p.pm - a.adj AS BIGINT) AS seasonal_micro
      |  FROM p JOIN a ON p.event_type = a.event_type)
      |SELECT t.event_type, t.pos, t.v AS v,
      |  CAST(t.trend_micro AS BIGINT) AS trend_micro,
      |  se.seasonal_micro,
      |  CAST(CAST(t.c AS HUGEINT) * 10000 - t.trend_micro
      |    - se.seasonal_micro AS BIGINT) AS resid_micro,
      |  CAST(t.trend_micro AS DOUBLE) / 1.0e6 AS trend,
      |  CAST(se.seasonal_micro AS DOUBLE) / 1.0e6 AS seasonal,
      |  CAST(CAST(t.c AS HUGEINT) * 10000 - t.trend_micro
      |    - se.seasonal_micro AS DOUBLE) / 1.0e6 AS resid
      |FROM t LEFT JOIN se
      |  ON t.event_type = se.event_type AND t.pos % 7 = se.ph""".stripMargin

  // ---------------------------------------------------------- page-hinkley
  // Page-Hinkley upward-shift detection per event type — the
  // self-centering companion to q_cusum below: deviations accumulate
  // against the RUNNING mean (no second pass over the key, no fixed
  // target), ph = mh − running min(mh), alarm past λ. Every quantity
  // is an exact integer micro sum (toward-zero integral division —
  // the rounding both engines share); oracle replays rank, running
  // sums, and both running extrema in one window chain.
  private val PhDelta = 0.5
  private val PhLambda = 500.0

  def qPageHinkley(s: SparkSession, dir: String): DataFrame =
    graft.operators.ChangeDetect.pageHinkley(
      t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("ts"), col("value")),
      "event_type", "ts", "event_id", "value", PhDelta, PhLambda)
      .select(col("event_id"), col("event_type"), col("value"),
        col("ph_micro"), col("ph"), col("is_change"))

  val qPageHinkleySql: String = {
    val deltaMicro = math.round(PhDelta * 1e6)
    val lambdaMicro = math.round(PhLambda * 1e6)
    s"""WITH src AS (
       |  SELECT event_id, event_type, ts, value,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL),
       |w AS (
       |  SELECT event_id, event_type, value, cents,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    sum(cents) OVER (PARTITION BY event_type
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runc
       |  FROM src),
       |inc AS (
       |  SELECT event_id, event_type, value, rn,
       |    ((CAST(rn AS HUGEINT) * cents - CAST(runc AS HUGEINT))
       |      * 10000) // rn - $deltaMicro AS inc
       |  FROM w),
       |mh AS (
       |  SELECT event_id, event_type, value, rn,
       |    sum(inc) OVER (PARTITION BY event_type ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mh
       |  FROM inc)
       |SELECT event_id, event_type, value,
       |  CAST(mh - min(mh) OVER (PARTITION BY event_type ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS ph_micro,
       |  CAST(mh - min(mh) OVER (PARTITION BY event_type ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS DOUBLE) / 1.0e6 AS ph,
       |  (mh - min(mh) OVER (PARTITION BY event_type ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |    > $lambdaMicro AS is_change
       |FROM mh""".stripMargin
  }

  // -------------------------------------------------------- drift pipeline
  // The end-to-end drift GATE (ChangeDetect.pageHinkleyDeseasonalized):
  // seasonal-decompose the daily value sums (the q_decompose grid),
  // then Page-Hinkley on the RESIDUAL alone — weekly rhythm can never
  // fire the detector, only a genuine step against the deseasonalized
  // history. The oracle replays the decompose CTE chain, the
  // toward-zero cents truncation of the residual, and the PH window
  // recursion in one integer-exact pipeline (the q_gate_pipeline
  // composite precedent).
  private val DriftDelta = 0.5
  private val DriftLambda = 200.0

  def qDriftPipeline(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events").filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("pos"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    graft.operators.ChangeDetect.pageHinkleyDeseasonalized(
      daily, "event_type", "pos", "v", period = 7, halfWin = 3,
      delta = DriftDelta, lambda = DriftLambda)
  }

  val qDriftPipelineSql: String = {
    val deltaMicro = math.round(DriftDelta * 100.0 * 1e6)
    val lambdaMicro = math.round(DriftLambda * 100.0 * 1e6)
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS pos,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |b AS (
       |  SELECT event_type, pos, v,
       |    CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
       |    count(*) OVER w AS wn,
       |    sum(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS ws
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY pos
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |t AS (
       |  SELECT event_type, pos, v, c,
       |    CASE WHEN wn = 7
       |      THEN (CAST(ws AS HUGEINT) * 10000) // wn END AS trend_micro
       |  FROM b),
       |d AS (
       |  SELECT event_type, pos % 7 AS ph,
       |    CAST(c AS HUGEINT) * 10000 - trend_micro AS dd
       |  FROM t WHERE trend_micro IS NOT NULL),
       |p AS (SELECT event_type, ph, sum(dd) // count(*) AS pm
       |  FROM d GROUP BY 1, 2),
       |a AS (SELECT event_type, sum(pm) // count(*) AS adj
       |  FROM p GROUP BY 1),
       |se AS (
       |  SELECT p.event_type, p.ph,
       |    CAST(p.pm - a.adj AS BIGINT) AS seasonal_micro
       |  FROM p JOIN a ON p.event_type = a.event_type),
       |r AS (
       |  SELECT t.event_type, t.pos, t.v,
       |    CAST(CAST(t.c AS HUGEINT) * 10000 - t.trend_micro
       |      - se.seasonal_micro AS BIGINT) AS resid_micro
       |  FROM t JOIN se
       |    ON t.event_type = se.event_type AND t.pos % 7 = se.ph
       |  WHERE t.trend_micro IS NOT NULL),
       |rc AS (
       |  SELECT event_type, pos, v, resid_micro,
       |    ((resid_micro - resid_micro % 10000) // 10000) * 100 AS cents
       |  FROM r),
       |w2 AS (
       |  SELECT event_type, pos, v, resid_micro, cents,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY pos) AS BIGINT) AS rn,
       |    sum(cents) OVER (PARTITION BY event_type ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runc
       |  FROM rc),
       |inc AS (
       |  SELECT event_type, pos, v, resid_micro, rn,
       |    ((CAST(rn AS HUGEINT) * cents - CAST(runc AS HUGEINT))
       |      * 10000) // rn - $deltaMicro AS inc
       |  FROM w2),
       |mh AS (
       |  SELECT event_type, pos, v, resid_micro, rn,
       |    sum(inc) OVER (PARTITION BY event_type ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mh
       |  FROM inc)
       |SELECT event_type, pos, v,
       |  CAST(resid_micro AS DOUBLE) / 1.0e6 AS resid,
       |  CAST(mh - min(mh) OVER (PARTITION BY event_type ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS DOUBLE) / 1.0e8 AS ph,
       |  (mh - min(mh) OVER (PARTITION BY event_type ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |    > $lambdaMicro AS is_change
       |FROM mh""".stripMargin
  }

  // ---------------------------------------------------------------- cusum
  // CUSUM drift per event type over event time — integer-cents
  // arithmetic end to end (see ChangeDetect), one double division at
  // the end, bit-replayable.
  private val CusumThreshold = 300.0

  def qCusum(s: SparkSession, dir: String): DataFrame =
    graft.operators.ChangeDetect.cusum(
      t(s, dir, "events").select(
        col("event_id"), col("event_type"), col("ts"), col("value")),
      "event_type", "ts", "event_id", "value", CusumThreshold)
      .select(col("event_id"), col("event_type"), col("value"),
        col("cusum"), col("is_change"))

  val qCusumSql: String =
    s"""WITH src AS (
       |  SELECT event_id, event_type, ts, value,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL),
       |t AS (
       |  SELECT event_type, sum(cents) AS tot, count(*) AS n
       |  FROM src GROUP BY 1),
       |w AS (
       |  SELECT s.event_id, s.event_type, s.value, t.n, t.tot,
       |    sum(s.cents) OVER (PARTITION BY s.event_type
       |      ORDER BY s.ts, s.event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runc,
       |    CAST(row_number() OVER (PARTITION BY s.event_type
       |      ORDER BY s.ts, s.event_id) AS BIGINT) AS rn
       |  FROM src s JOIN t ON s.event_type = t.event_type)
       |SELECT event_id, event_type, value,
       |  CAST(n * runc - rn * tot AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * 100.0) AS cusum,
       |  abs(CAST(n * runc - rn * tot AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * 100.0)) > $CusumThreshold AS is_change
       |FROM w""".stripMargin

  // ------------------------------------------------------------ quarantine
  // Dead-letter routing: every customer row tagged with the row-level
  // checks it fails (suite order, comma-joined), NULL when clean.
  def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    Expectations.quarantine(t(s, dir, "customer"), Seq(
      InRange("c_acctbal", lit(0.0), lit(8000.0)),
      AcceptedValues("c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")),
      Matches("c_name", NamePattern)))
  }

  val qQuarantineSql: String =
    s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       |  NULLIF(concat_ws(',',
       |    CASE WHEN c_acctbal IS NOT NULL
       |      AND (c_acctbal < 0.0 OR c_acctbal > 8000.0)
       |      THEN 'in_range:c_acctbal' END,
       |    CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
       |      ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY')
       |      THEN 'accepted_values:c_mktsegment' END,
       |    CASE WHEN c_name IS NOT NULL
       |      AND NOT regexp_matches(c_name, '$NamePattern')
       |      THEN 'matches:c_name' END), '') AS reasons
       |FROM customer""".stripMargin

  // -------------------------------------------------------------- wmedian
  // Quantity-weighted median price per return flag — exact decimal
  // running-weight rank select (lower weighted median), engine-exact.
  def qWmedian(s: SparkSession, dir: String): DataFrame =
    Robust.weightedMedian(
      t(s, dir, "lineitem")
        .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_returnflag", "l_extendedprice", "l_quantity", "lid")

  val qWmedianSql: String =
    """WITH src AS (
      |  SELECT l_returnflag AS k, l_extendedprice AS v,
      |    l_orderkey * 8 + l_linenumber AS tie,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS dw
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL
      |    AND CAST(l_quantity AS DECIMAL(18,2)) > 0),
      |w AS (
      |  SELECT k, v,
      |    sum(dw) OVER (PARTITION BY k ORDER BY v, tie
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runw,
      |    sum(dw) OVER (PARTITION BY k) AS totw
      |  FROM src)
      |SELECT k AS l_returnflag, min(v) AS wmedian
      |FROM w WHERE runw * 2 >= totw GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- sketch
  // Daily distinct users from persisted HLL sketch state — built per
  // day, estimated from the state table alone (the corpus is never
  // re-scanned for the rollup). At this cardinality the sketch is in
  // its sparse-EXACT regime, so the DuckDB exact-distinct oracle
  // hash-matches; the error-bounded large-cardinality path is spec'd
  // in SketchStateSpec.
  def qSketchUsers(s: SparkSession, dir: String): DataFrame = {
    val state = graft.operators.SketchState.build(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      Seq("day"), "user_id")
    graft.operators.SketchState.estimate(state, Seq("day"))
  }

  val qSketchUsersSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  count(DISTINCT user_id) AS n_distinct
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ table sig
  // Order-independent migration checksum of customer (doubles fixed to
  // decimal first — the cross-engine rendering caveat in
  // Reconcile.signature). The oracle rebuilds the self-delimiting
  // fingerprint blocks and the 48-bit hex fold independently.
  def qTableSig(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reconcile.signature(
      t(s, dir, "customer")
        .withColumn("bal_d", col("c_acctbal").cast("decimal(18,2)")),
      Seq("c_custkey", "c_name", "c_nationkey", "bal_d", "c_mktsegment"))

  val qTableSigSql: String = {
    val block = (c: String) =>
      s"CASE WHEN $c IS NULL THEN 'n;' ELSE 'v' || " +
        s"length(CAST($c AS VARCHAR)) || ':' || CAST($c AS VARCHAR) END"
    val cols = Seq("c_custkey", "c_name", "c_nationkey",
      "CAST(c_acctbal AS DECIMAL(18,2))", "c_mktsegment")
    val fold = "list_reduce(list_transform(" +
      "regexp_split_to_array(substr(m, 1, 12), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
      "(a, x) -> a * 16 + x)"
    s"""WITH f AS (
       |  SELECT md5(${cols.map(block).mkString(" || ")}) AS m
       |  FROM customer)
       |SELECT count(*) AS n_rows, CAST(sum($fold) AS BIGINT) AS sig
       |FROM f""".stripMargin
  }

  // ------------------------------------------------------------------ twa
  // Time-weighted average event value per user (value holds until the
  // next event) — integer cents × whole seconds end to end, one closing
  // double division (see TimeWeighted).
  def qTwa(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeWeighted.average(
      t(s, dir, "events"), "user_id", "ts", "event_id", "value")

  val qTwaSql: String =
    """WITH src AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |w AS (
      |  SELECT user_id, c,
      |    (lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
      |      - tu) // 1000000 AS dt
      |  FROM src),
      |a AS (
      |  SELECT user_id, sum(c * dt) AS cs, sum(dt) AS held
      |  FROM w WHERE dt IS NOT NULL GROUP BY 1)
      |SELECT user_id, CAST(held AS BIGINT) AS held_seconds,
      |  CASE WHEN held > 0 THEN
      |    CAST(cs AS DOUBLE) / (CAST(held AS DOUBLE) * 100.0) END AS twa
      |FROM a""".stripMargin

  // --------------------------------------------------------- label encode
  // Stable dictionary encoding of market segment (rank-ordered ids, not
  // arrival-ordered) — see Discretize.labelEncode.
  def qLabelEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Discretize.labelEncode(
      t(s, dir, "customer"), "c_mktsegment", "seg_id")
      .select(col("c_custkey"), col("c_mktsegment"), col("seg_id"))

  val qLabelEncodeSql: String =
    """WITH dict AS (
      |  SELECT c_mktsegment AS seg,
      |    row_number() OVER (ORDER BY c_mktsegment) AS seg_id
      |  FROM (SELECT DISTINCT c_mktsegment FROM customer
      |        WHERE c_mktsegment IS NOT NULL))
      |SELECT c.c_custkey, c.c_mktsegment, d.seg_id
      |FROM customer c LEFT JOIN dict d ON c.c_mktsegment = d.seg""".stripMargin

  // -------------------------------------------------------- quantile cont
  // Interpolated (PERCENTILE_CONT / R type-7) price quantiles per return
  // flag. The oracle is DuckDB's NATIVE quantile_cont — an independent
  // implementation whose 0-based fractional rank is bit-equal to our
  // 1-based form (Sterbenz; see Quantiles.interpolatedQuantiles).
  private val ContPs = Seq(0.25, 0.5, 0.75, 0.9)

  def qQuantileCont(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.interpolatedQuantiles(
      t(s, dir, "lineitem")
        .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_extendedprice", "lid", Seq("l_returnflag"), ContPs)

  val qQuantileContSql: String =
    ContPs.map { p =>
      s"""SELECT l_returnflag, CAST('$p' AS DOUBLE) AS p,
         |  quantile_cont(l_extendedprice, $p) AS q
         |FROM lineitem WHERE l_extendedprice IS NOT NULL
         |GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---------------------------------------------------- distinctive terms
  // Top-10 terms most distinctive of each language (c-TF-IDF shape with
  // the monotone log dropped — rankings identical, score engine-exact).
  def qClusterTerms(s: SparkSession, dir: String): DataFrame =
    graft.operators.DistinctiveTerms.topTerms(
      t(s, dir, "documents"), "lang", "text", k = 10)

  val qClusterTermsSql: String = {
    val collapse = QueriesText.sqlCollapse("text")
    s"""WITH terms AS (
       |  SELECT lang, term FROM (
       |    SELECT lang, unnest(regexp_split_to_array(
       |      lower($collapse), ' ')) AS term
       |    FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL)
       |  WHERE length(term) >= 3),
       |tf AS (SELECT lang, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |gf AS (SELECT term, count(*) AS gf FROM tf GROUP BY 1),
       |ng AS (SELECT count(DISTINCT lang) AS ng FROM tf),
       |s AS (
       |  SELECT tf.lang, tf.term, tf.tf, gf.gf,
       |    CAST(tf.tf AS DOUBLE) * CAST(ng.ng AS DOUBLE)
       |      / CAST(gf.gf AS DOUBLE) AS score
       |  FROM tf JOIN gf ON tf.term = gf.term CROSS JOIN ng)
       |SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(gf AS BIGINT) AS gf,
       |  score, CAST(rank AS INTEGER) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY score DESC, term) AS rank
       |  FROM s)
       |WHERE rank <= 10""".stripMargin
  }

  // -------------------------------------------------------- budget sample
  // Exactly 200 documents, source mix preserved by largest-remainder
  // quotas, per-stratum picks by md5 rank — fully integer, replayable.
  private val BudgetTotal = 200L

  def qBudgetSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleBudget(
      t(s, dir, "documents"), "doc_id", "source", BudgetTotal)
      .select(col("doc_id"), col("source"))

  val qBudgetSampleSql: String =
    s"""WITH rows_ AS (
       |  SELECT doc_id, source FROM documents WHERE source IS NOT NULL),
       |c AS (SELECT source, count(*) AS n FROM rows_ GROUP BY 1),
       |g AS (SELECT sum(n) AS ntot FROM c),
       |b AS (SELECT source, n, ($BudgetTotal * n) // ntot AS fl,
       |        ($BudgetTotal * n) % ntot AS rem
       |      FROM c CROSS JOIN g),
       |k AS (SELECT $BudgetTotal - sum(fl) AS k FROM b),
       |q AS (SELECT source,
       |        fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
       |          <= k THEN 1 ELSE 0 END AS quota
       |      FROM b CROSS JOIN k),
       |p AS (SELECT r.doc_id, r.source,
       |        row_number() OVER (PARTITION BY r.source
       |          ORDER BY md5(CAST(r.doc_id AS VARCHAR)), r.doc_id) AS pick
       |      FROM rows_ r)
       |SELECT p.doc_id, p.source FROM p
       |JOIN q ON p.source = q.source WHERE p.pick <= q.quota""".stripMargin

  // ------------------------------------------------------------------- qq
  // QQ-plot table: matched interpolated quantiles of returned vs
  // non-returned prices — the distribution-shift report as data. Joins
  // on the p literal (identical doubles on both sides by construction).
  private val QqPs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  def qQq(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Quantiles.interpolatedQuantiles(
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("N", "R"))
        .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_extendedprice", "lid", Seq("l_returnflag"), QqPs)
    q.filter(col("l_returnflag") === "N")
      .select(col("p"), col("q").as("q_n"))
      .join(q.filter(col("l_returnflag") === "R")
        .select(col("p"), col("q").as("q_r")), "p")
      .withColumn("shift", col("q_r") - col("q_n"))
  }

  val qQqSql: String = {
    def side(flag: String) = QqPs.map { p =>
      s"""SELECT CAST('$p' AS DOUBLE) AS p,
         |  quantile_cont(l_extendedprice, $p) AS q
         |FROM lineitem
         |WHERE l_returnflag = '$flag' AND l_extendedprice IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qn AS (${side("N")}),
       |qr AS (${side("R")})
       |SELECT qn.p, qn.q AS q_n, qr.q AS q_r, qr.q - qn.q AS shift
       |FROM qn JOIN qr ON qn.p = qr.p""".stripMargin
  }

  // ------------------------------------------------------------ accents
  // Accent folding + CPF display mask round-trip: names accented via a
  // fixed translate, folded back by foldAccents (engine-identical
  // per-codepoint tables); custkeys zero-padded to 11 digits and
  // masked xxx.xxx.xxx-xx.
  def qAccentFold(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CpfFunctions, TextFunctions}
    t(s, dir, "customer")
      .withColumn("accented", translate(col("c_name"), "aeo", "áéõ"))
      .select(col("c_custkey"), col("accented"),
        TextFunctions.foldAccents(col("accented")).as("folded"),
        CpfFunctions.cpfFormat(
          lpad(col("c_custkey").cast("string"), 11, "0")).as("cpf_masked"))
  }

  val qAccentFoldSql: String = {
    import graft.functions.TextFunctions.{AccentedChars, FoldedChars}
    s"""SELECT c_custkey,
       |  translate(c_name, 'aeo', 'áéõ') AS accented,
       |  translate(translate(c_name, 'aeo', 'áéõ'),
       |    '$AccentedChars', '$FoldedChars') AS folded,
       |  CASE WHEN regexp_matches(
       |      lpad(CAST(c_custkey AS VARCHAR), 11, '0'), '^[0-9]{11}$$')
       |    THEN substr(lpad(CAST(c_custkey AS VARCHAR), 11, '0'), 1, 3)
       |      || '.' || substr(lpad(CAST(c_custkey AS VARCHAR), 11, '0'), 4, 3)
       |      || '.' || substr(lpad(CAST(c_custkey AS VARCHAR), 11, '0'), 7, 3)
       |      || '-' || substr(lpad(CAST(c_custkey AS VARCHAR), 11, '0'), 10, 2)
       |  END AS cpf_masked
       |FROM customer""".stripMargin
  }

  // -------------------------------------------------------------- hopping
  // Sliding (hopping) event-time windows, 10-minute span every 5
  // minutes — each event lands in exactly two windows; Spark's native
  // window(slide) vs an explicit two-shift replay in DuckDB.
  def qHopping(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("event_type"), col("n"),
        col("sv").cast("double").as("sum_value"))

  val qHoppingSql: String =
    """WITH x AS (
      |  SELECT (epoch_us(ts) // 300000000) * 300000000 AS ws,
      |    event_type, value
      |  FROM events
      |  UNION ALL
      |  SELECT (epoch_us(ts) // 300000000) * 300000000 - 300000000,
      |    event_type, value
      |  FROM events)
      |SELECT make_timestamp(ws) AS w_start,
      |  make_timestamp(ws + 600000000) AS w_end,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- golden
  // Field-level survivorship across two simulated registries: source A
  // (priority 1) misses every 3rd segment, source B misses every 5th
  // balance but carries a shifted one elsewhere — the golden record
  // takes each field from the best source that HAS it.
  def qGolden(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val a = cust.select(col("c_custkey"), lit(1).as("prio"), lit("a").as("src"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"),
      col("c_acctbal").as("bal"))
    val b = cust.select(col("c_custkey"), lit(2).as("prio"), lit("b").as("src"),
      col("c_mktsegment").as("seg"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("c_acctbal") + lit(1000.0)).as("bal"))
    graft.operators.GoldenRecord.merge(
      a.unionByName(b), "c_custkey", "prio", "src", Seq("seg", "bal"))
  }

  val qGoldenSql: String =
    """WITH src AS (
      |  SELECT c_custkey, 1 AS prio, 'a' AS s,
      |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg,
      |    c_acctbal AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 2, 'b', c_mktsegment,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal + 1000.0 END
      |  FROM customer),
      |w AS (
      |  SELECT c_custkey,
      |    first_value(seg IGNORE NULLS) OVER (PARTITION BY c_custkey
      |      ORDER BY prio, s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS seg,
      |    first_value(bal IGNORE NULLS) OVER (PARTITION BY c_custkey
      |      ORDER BY prio, s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS bal,
      |    count(*) OVER (PARTITION BY c_custkey) AS n_sources,
      |    row_number() OVER (PARTITION BY c_custkey ORDER BY prio, s) AS rn
      |  FROM src)
      |SELECT c_custkey, seg, bal, CAST(n_sources AS BIGINT) AS n_sources
      |FROM w WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------ hierarchy
  // Root + depth over a synthetic customer forest (parent = custkey/10,
  // keys below 10 are roots; depth ≤ 3 at sf0.01). Spark side resolves
  // by pointer doubling (no recursive CTE in Spark); the oracle IS a
  // recursive CTE — an entirely independent algorithm.
  def qHierarchy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Hierarchy.resolveRoots(
      t(s, dir, "customer").select(col("c_custkey").as("node"),
        when(col("c_custkey") < 10, lit(null).cast("long"))
          .otherwise(expr("c_custkey div 10")).as("parent")),
      "node", "parent")

  val qHierarchySql: String =
    """WITH RECURSIVE up AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT)
      |    AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10)
      |SELECT node, cur AS root, depth FROM up WHERE cur < 10""".stripMargin

  // ------------------------------------------------------------ features
  // Autoregressive lag block (3 lags, one sort), leave-one-out target
  // encoding (decimal partials, one closing division), and the purged
  // temporal split with a 2-day embargo.
  def qLagFeatures(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.lagMatrix(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts"), col("value")),
      "user_id", "ts", "event_id", "value", k = 3)
      .select(col("event_id"), col("user_id"), col("value"),
        col("lag_1"), col("lag_2"), col("lag_3"))

  val qLagFeaturesSql: String =
    """SELECT event_id, user_id, value,
      |  lag(value, 1) OVER w AS lag_1,
      |  lag(value, 2) OVER w AS lag_2,
      |  lag(value, 3) OVER w AS lag_3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  def qTargetEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.targetEncodeLoo(
      t(s, dir, "customer"), "c_mktsegment", "c_acctbal")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("te_loo"))

  val qTargetEncodeSql: String =
    """WITH stats AS (
      |  SELECT c_mktsegment AS seg,
      |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*) AS n
      |  FROM customer
      |  WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
      |  GROUP BY 1)
      |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
      |  CASE WHEN c.c_acctbal IS NOT NULL AND st.n > 1 THEN
      |    CAST(st.s - CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
      |      / CAST(st.n - 1 AS DOUBLE) END AS te_loo
      |FROM customer c LEFT JOIN stats st ON c.c_mktsegment = st.seg""".stripMargin

  private val SplitTrainEnd = "2024-01-20 00:00:00"

  def qTimeSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"), col("ts"),
      graft.operators.Splits.timeSplit(col("ts"),
        java.sql.Timestamp.valueOf(SplitTrainEnd), "2 days").as("split"))

  val qTimeSplitSql: String =
    s"""SELECT event_id, ts,
       |  CASE WHEN ts IS NULL THEN NULL
       |       WHEN ts <= TIMESTAMP '$SplitTrainEnd' THEN 'train'
       |       WHEN ts > TIMESTAMP '$SplitTrainEnd' + INTERVAL 2 DAY
       |         THEN 'test'
       |       ELSE 'embargo' END AS split
       |FROM events""".stripMargin

  // ----------------------------------------------------------- rank eval
  // recall@5 of a hash-random ranking against the length ranking per
  // source — the metric plumbing; the real ANN-vs-brute evaluation
  // rides the same operator in RankEvalSpec.
  def qRankMetric(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val a = docs.select(col("source"), col("doc_id"),
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))).as("rank"))
    val b = docs.select(col("source"), col("doc_id"),
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
        .as("rank"))
    graft.similarity.RankEval.recallAtK(b, a, "source", "doc_id", "rank", 5)
  }

  val qRankMetricSql: String =
    """WITH a AS (
      |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id) AS r
      |  FROM documents),
      |b AS (
      |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      |  FROM documents),
      |h AS (
      |  SELECT b.source, count(*) AS hits
      |  FROM b JOIN a ON b.source = a.source AND b.doc_id = a.doc_id
      |    AND a.r <= 5
      |  WHERE b.r <= 5 GROUP BY 1),
      |q AS (SELECT DISTINCT source FROM b WHERE r <= 5)
      |SELECT q.source,
      |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
      |FROM q LEFT JOIN h ON q.source = h.source""".stripMargin

  // ----------------------------------------------------------- sequential
  // Capped sessionization (gap 7 d OR 3 d span cap — the cap is the
  // truly sequential part) and a 2-day debounce, both via the
  // secondary-sort pass; the oracles are DuckDB RECURSIVE CTEs walking
  // the per-user event chain — independent sequential algorithms.
  private val SeqGapUs = 7L * 86400L * 1000000L
  private val SeqCapUs = 3L * 86400L * 1000000L
  private val DebounceUs = 2L * 86400L * 1000000L

  def qSessionCapped(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sequential.sessionizeCapped(
      t(s, dir, "events"), "user_id", "ts", "event_id", SeqGapUs, SeqCapUs)

  val qSessionCappedSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS t,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS i
       |  FROM events),
       |s AS (
       |  SELECT user_id, event_id, t, i, t AS ss, CAST(1 AS BIGINT) AS idx
       |  FROM e WHERE i = 1
       |  UNION ALL
       |  SELECT e.user_id, e.event_id, e.t, e.i,
       |    CASE WHEN e.t - s.t > $SeqGapUs OR e.t - s.ss > $SeqCapUs
       |      THEN e.t ELSE s.ss END,
       |    CASE WHEN e.t - s.t > $SeqGapUs OR e.t - s.ss > $SeqCapUs
       |      THEN s.idx + 1 ELSE s.idx END
       |  FROM s JOIN e ON e.user_id = s.user_id AND e.i = s.i + 1)
       |SELECT user_id, event_id, ss AS session_start_us,
       |  idx AS session_idx
       |FROM s""".stripMargin

  def qDebounce(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sequential.debounce(
      t(s, dir, "events"), "user_id", "ts", "event_id", DebounceUs)

  val qDebounceSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS t,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS i
       |  FROM events),
       |s AS (
       |  SELECT user_id, event_id, t, i, t AS lk, TRUE AS kept
       |  FROM e WHERE i = 1
       |  UNION ALL
       |  SELECT e.user_id, e.event_id, e.t, e.i,
       |    CASE WHEN e.t - s.lk >= $DebounceUs THEN e.t ELSE s.lk END,
       |    e.t - s.lk >= $DebounceUs
       |  FROM s JOIN e ON e.user_id = s.user_id AND e.i = s.i + 1)
       |SELECT user_id, event_id FROM s WHERE kept""".stripMargin

  // Per-user EWMA of event values (α = 0.25 — exact in binary, so the
  // '0.25'/'0.75' literals are the same double on both engines). The
  // oracle walks the identical recurrence in a RECURSIVE CTE; hash
  // agreement means every smoothed double is bit-equal along the whole
  // chain, not just at the end.
  def qEwma(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sequential.ewma(
      t(s, dir, "events"), "user_id", "ts", "event_id", "value", 0.25)

  val qEwmaSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t, value AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS i
      |  FROM events WHERE value IS NOT NULL),
      |s AS (
      |  SELECT user_id, event_id, t, i, v, v AS ewma FROM e WHERE i = 1
      |  UNION ALL
      |  SELECT e.user_id, e.event_id, e.t, e.i, e.v,
      |    CAST(0.25 AS DOUBLE) * e.v + CAST(0.75 AS DOUBLE) * s.ewma
      |  FROM s JOIN e ON e.user_id = s.user_id AND e.i = s.i + 1)
      |SELECT user_id, event_id, v AS value, ewma FROM s""".stripMargin

  // ---------------------------------------------------- quantile norm
  // Cross-source quantile normalization of document lengths: each doc's
  // n_chars maps to the POOLED length distribution's value at the doc's
  // within-source quantile (q=100 grid) — all integer rank algebra, no
  // doubles; the oracle replays the identical grid construction with
  // generate_series.
  private val QnGrid = 100

  def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.quantileNormalize(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", "doc_id", QnGrid)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("qn_pos"), col("qn"))

  val qQuantileNormSql: String =
    s"""WITH rows_ AS (SELECT doc_id, source, n_chars FROM documents
       |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
       |dv AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM rows_ GROUP BY 1),
       |cum AS (SELECT v, c,
       |  CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cm,
       |  CAST(sum(c) OVER () AS BIGINT) AS n FROM dv),
       |grid AS (SELECT
       |  CAST(unnest(generate_series(
       |    CAST(((cm - c) * $QnGrid) // n AS INT) + 1,
       |    CAST((cm * $QnGrid) // n AS INT))) AS INT) AS qn_pos,
       |  v AS qn
       |  FROM cum
       |  WHERE CAST((cm * $QnGrid) // n AS INT)
       |    >= CAST(((cm - c) * $QnGrid) // n AS INT) + 1),
       |rk AS (SELECT doc_id, source, n_chars,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
       |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
       |  FROM rows_)
       |SELECT doc_id, source, n_chars,
       |  CAST((rn * $QnGrid + ns - 1) // ns AS INT) AS qn_pos, qn
       |FROM rk JOIN grid
       |  ON CAST((rn * $QnGrid + ns - 1) // ns AS INT) = grid.qn_pos"""
      .stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_quantile_norm", qQuantileNorm, qQuantileNormSql),
    Query("q_session_capped", qSessionCapped, qSessionCappedSql),
    Query("q_debounce", qDebounce, qDebounceSql),
    Query("q_ewma", qEwma, qEwmaSql),
    Query("q_rank_metric", qRankMetric, qRankMetricSql),
    Query("q_lag_features", qLagFeatures, qLagFeaturesSql),
    Query("q_target_encode", qTargetEncode, qTargetEncodeSql),
    Query("q_time_split", qTimeSplit, qTimeSplitSql),
    Query("q_hierarchy", qHierarchy, qHierarchySql),
    Query("q_hopping", qHopping, qHoppingSql),
    Query("q_golden", qGolden, qGoldenSql),
    Query("q_accent_fold", qAccentFold, qAccentFoldSql),
    Query("q_qq", qQq, qQqSql),
    Query("q_budget_sample", qBudgetSample, qBudgetSampleSql),
    Query("q_cluster_terms", qClusterTerms, qClusterTermsSql),
    Query("q_quantile_cont", qQuantileCont, qQuantileContSql),
    Query("q_twa", qTwa, qTwaSql),
    Query("q_label_encode", qLabelEncode, qLabelEncodeSql),
    Query("q_table_sig", qTableSig, qTableSigSql),
    Query("q_sketch_users", qSketchUsers, qSketchUsersSql),
    Query("q_attribution", qAttribution, qAttributionSql),
    Query("q_cusum", qCusum, qCusumSql),
    Query("q_page_hinkley", qPageHinkley, qPageHinkleySql),
    Query("q_drift_pipeline", qDriftPipeline, qDriftPipelineSql),
    Query("q_decompose", qDecompose, qDecomposeSql),
    Query("q_quarantine", qQuarantine, qQuarantineSql),
    Query("q_wmedian", qWmedian, qWmedianSql),
    Query("q_assoc", qAssoc, qAssocSql),
    Query("q_bins", qBins, qBinsSql),
    Query("q_expectations", qExpectations, qExpectationsSql),
    Query("q_interpolate", qInterpolate, qInterpolateSql),
    Query("q_mad", qMad, qMadSql),
    Query("q_neg_sample", qNegSample, qNegSampleSql),
    Query("q_pareto", qPareto, qParetoSql),
    Query("q_benford", qBenford, qBenfordSql),
  )
}
