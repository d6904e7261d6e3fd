package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-pipeline query group, FUNNEL / ATTRIBUTION / AGGREGATE
  * ANALYTICS family: funnel stage reach, transition matrices, daily
  * anomaly outliers, heavy hitters, mergeable quantile-sketch state,
  * model gains tables, period-over-period deltas, theta-sketch set
  * algebra, and forecast evaluation. (Sessions/streams live in
  * [[QueriesEvents]]; lifecycle labels in [[QueriesLifecycle]].)
  */
object QueriesFunnel {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- funnel
  // Ordered-conversion funnel view -> click -> purchase. The operator
  // compares Spark's micro-truncated timestamps; the oracle compares
  // epoch_us integers — the same micro-domain ordering (qStreamJoin's
  // rule), and the output is epoch-us for the same reason.
  private val FunnelSteps = Seq("view", "click", "purchase")

  def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.earliest(t(s, dir, "events"),
        "user_id", "ts", "event_type", FunnelSteps)
      .select(col("user_id"),
        unix_micros(col("t1")).as("t1_us"),
        unix_micros(col("t2")).as("t2_us"),
        unix_micros(col("t3")).as("t3_us"),
        col("steps_completed"))

  val qFunnelSql: String = {
    val Seq(s1, s2, s3) = FunnelSteps
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type
       |            FROM events),
       |c1 AS (SELECT user_id, min(us) AS t1 FROM ev
       |       WHERE event_type = '$s1' GROUP BY user_id),
       |c2 AS (SELECT c1.user_id, t1,
       |         min(CASE WHEN e.us > c1.t1 THEN e.us END) AS t2
       |       FROM c1 LEFT JOIN ev e
       |         ON e.user_id = c1.user_id AND e.event_type = '$s2'
       |       GROUP BY c1.user_id, t1),
       |c3 AS (SELECT c2.user_id, t1, t2,
       |         min(CASE WHEN e.us > c2.t2 THEN e.us END) AS t3
       |       FROM c2 LEFT JOIN ev e
       |         ON e.user_id = c2.user_id AND e.event_type = '$s3'
       |       GROUP BY c2.user_id, t1, t2)
       |SELECT user_id, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us,
       |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
       |            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
       |    AS steps_completed
       |FROM c3""".stripMargin
  }

  // ----------------------------------------------------------- transitions
  // First-order next-event transition matrix. Ordering is (ts,
  // event_id) within each user — micro-domain ts on both engines
  // (qStreamJoin's rule); p is a long/long double division, IEEE-exact.
  def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Transitions.matrix(t(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type")

  val qTransitionsSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |              event_type
      |            FROM events),
      |st AS (SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY us, event_id) AS to_type
      |       FROM ev),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM st
      |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c
      |      GROUP BY from_type)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      |FROM c JOIN t USING (from_type)""".stripMargin

  // --------------------------------------------------------- anomaly
  // Per-user daily-activity z-score outliers: mean/σ derive from exact
  // integer sums with one double division each, and IEEE sqrt is
  // correctly rounded, so z is engine-identical before the boundary
  // decimal rounding.
  private val AnomalyThreshold = 2.0
  private val AnomalyMinDays = 5

  def qAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.dailyOutliers(
        t(s, dir, "events"), "user_id", "ts", AnomalyThreshold, AnomalyMinDays)
      // compared projection: |z| < 10 so the scale-12 unscaled value fits
      // 2^53 — the decimal->double cast is correctly rounded on both sides
      .withColumn("z", col("z").cast("double"))

  val qAnomalySql: String =
    s"""WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |             CAST(count(*) AS BIGINT) AS n
       |           FROM events GROUP BY 1, 2),
       |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(n) AS BIGINT) AS s,
       |         CAST(sum(n * n) AS BIGINT) AS q
       |       FROM d GROUP BY user_id),
       |z AS (SELECT d.user_id, d.day, d.n,
       |        CAST((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) /
       |            CAST(nd AS DOUBLE)) /
       |          sqrt(CAST(nd * q - s * s AS DOUBLE) /
       |            CAST(nd * nd AS DOUBLE)) AS DECIMAL(20,12)) AS z
       |      FROM d JOIN st USING (user_id)
       |      WHERE nd >= $AnomalyMinDays AND nd * q - s * s > 0)
       |SELECT user_id, day, n, CAST(z AS DOUBLE) AS z FROM z
       |WHERE abs(z) >= $AnomalyThreshold""".stripMargin

  // ------------------------------------------------------ heavy hitters
  // Misra-Gries sketch in the EXACT regime (k far above the event-type
  // cardinality: no decrement ever fires), so the estimates equal plain
  // group counts and err_bound is 0 — which is precisely what the oracle
  // asserts. The approximate regime is property-checked in the spec.
  private val HeavyK = 32

  def qHeavy(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.heavyHitters(
      t(s, dir, "events"), Nil, "event_type", HeavyK)

  val qHeavySql: String =
    """SELECT event_type AS item, count(*) AS est,
      |  CAST(0 AS BIGINT) AS err_bound
      |FROM events GROUP BY event_type""".stripMargin

  def qHeavyUser(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.heavyHitters(
      t(s, dir, "events"), Seq("user_id"), "event_type", HeavyK)

  val qHeavyUserSql: String =
    """SELECT user_id, event_type AS item, count(*) AS est,
      |  CAST(0 AS BIGINT) AS err_bound
      |FROM events GROUP BY user_id, event_type""".stripMargin

  // ------------------------------------------------------ quantile state
  // Mergeable KLL quantile state at (event_type, day) grain — every
  // group holds far fewer than k = 200 items, so the sketches have
  // never compacted and quantile reads are EXACT ⌈q·n⌉ order
  // statistics, which the oracle selects directly with a rank window.
  // (The approximate/merge regimes are spec-gated in QuantileSketchSpec;
  // this query pins the exact-regime contract plus build/read plumbing.)
  def qQuantileState(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("value").isNotNull)
    val state = graft.operators.QuantileSketch.build(
      ev, Seq("event_type", "day"), "value")
    graft.operators.QuantileSketch.quantiles(
      state, Seq("event_type", "day"), Seq(0.5, 0.9))
  }

  // Oracle-rank coupling, pinned: KLL's INCLUSIVE getQuantile returns
  // the value at the smallest 1-based rank i with i/n >= q — which is
  // exactly i = ⌈q·n⌉ in REAL arithmetic. The oracle therefore derives
  // the rank with exact integers from rational q (qn/qd), never a
  // float ceil: (qn·n + qd − 1) // qd. KLL's own i/n >= q compare runs
  // in doubles, but for these q the two agree at every n: when
  // i/n = qn/qd exactly, both sides round to the same double (equal →
  // inclusive hit, same i); otherwise |i/n − q| ≥ 1/(qd·n), which
  // dwarfs double rounding for any n below ~2^50. Adding a new q here
  // means adding its exact rational (qn, qd) row — do NOT reintroduce
  // ceil(q*n).
  val qQuantileStateSql: String =
    """WITH g AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value AS v
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type, day ORDER BY v)
      |      AS rn,
      |    count(*) OVER (PARTITION BY event_type, day) AS n
      |  FROM g),
      |qs AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE), 1, 2),
      |                             (CAST(0.9 AS DOUBLE), 9, 10))
      |       AS v(q, qn, qd))
      |SELECT event_type, day, q, v AS value
      |FROM r CROSS JOIN qs
      |WHERE rn = (qn * n + qd - 1) // qd""".stripMargin

  // ---------------------------------------------------------- gains table
  // Decile gains/lift: rank users by an engagement score (event count),
  // decile them (the proven arithmetic ntile), and report per-decile
  // conversion plus cumulative capture vs the base rate — the standard
  // model-evaluation table, all ratios fixed-shape doubles of exact
  // integer counts.
  def qGainsTable(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Discretize
    val ev = t(s, dir, "events")
    val users = ev.groupBy(col("user_id")).agg(
        count(lit(1)).as("score"),
        max((col("event_type") === "purchase").cast("int")).as("converted"))
      .withColumn("__all", lit(1))
    // decile 1 = highest score (rank ascending -> invert)
    val binned = Discretize.equalFrequency(
        users, "__all", "score", "user_id", 10, "__b")
      .withColumn("decile", (lit(11) - col("__b")).cast("long"))
    val per = binned.groupBy(col("decile")).agg(
      count(lit(1)).as("n_users"),
      sum(col("converted")).cast("long").as("n_converted"))
    val tot = per.agg(sum(col("n_users")).as("tu"),
      sum(col("n_converted")).as("tc"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.crossJoin(broadcast(tot))
      .withColumn("cum_conv", sum(col("n_converted")).over(w))
      .select(col("decile"), col("n_users"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_users").cast("double"))
          .as("conv_rate"),
        (col("cum_conv").cast("double") / col("tc").cast("double"))
          .as("cum_capture"),
        ((col("n_converted").cast("double") / col("n_users").cast("double"))
          / (col("tc").cast("double") / col("tu").cast("double")))
          .as("lift"))
  }

  val qGainsTableSql: String =
    """WITH u AS (
      |  SELECT user_id, count(*) AS score,
      |    max(CAST(event_type = 'purchase' AS INT)) AS converted
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT user_id, converted,
      |    11 - ntile(10) OVER (ORDER BY score, user_id) AS decile
      |  FROM u),
      |p AS (
      |  SELECT decile, count(*) AS n_users,
      |    CAST(sum(converted) AS BIGINT) AS n_converted
      |  FROM b GROUP BY 1),
      |t0 AS (SELECT sum(n_users) AS tu, sum(n_converted) AS tc FROM p)
      |SELECT decile, n_users, n_converted,
      |  CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
      |  CAST(sum(n_converted) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(tc AS DOUBLE) AS cum_capture,
      |  (CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE))
      |    / (CAST(tc AS DOUBLE) / CAST(tu AS DOUBLE)) AS lift
      |FROM p CROSS JOIN t0""".stripMargin

  // ------------------------------------------------- period-over-period
  // Daily revenue with previous-day percent change and a trailing 7-row
  // moving average — the reporting composite over one date-ordered
  // window sort. Revenue is exact decimal; pct/moving-average are
  // fixed-shape double divisions of exact partials (avg() itself is
  // avoided: its decimal intermediate rounding is engine-specific).
  def qPop(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("day"))
    val frame = w.rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .withColumn("mov_sum", sum(col("rev")).over(frame))
      .withColumn("mov_n", count(lit(1)).over(frame))
      .select(col("day").cast("string").as("day"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        when(col("prev").isNotNull && col("prev") =!= 0,
          (col("rev").cast("double") - col("prev").cast("double")) /
            col("prev").cast("double")).as("pct_change"),
        (col("mov_sum").cast("double") / col("mov_n").cast("double"))
          .as("mov_avg_7"))
  }

  val qPopSql: String =
    """WITH d AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT day, n_orders, rev,
      |    lag(rev) OVER (ORDER BY day) AS prev,
      |    sum(rev) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_sum,
      |    count(*) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_n
      |  FROM d)
      |SELECT day, n_orders, CAST(rev AS DOUBLE) AS revenue,
      |  CASE WHEN prev IS NOT NULL AND prev <> 0
      |    THEN (CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
      |         / CAST(prev AS DOUBLE) END AS pct_change,
      |  CAST(mov_sum AS DOUBLE) / CAST(mov_n AS DOUBLE) AS mov_avg_7
      |FROM w""".stripMargin

  // ------------------------------------------------------- theta algebra
  // Audience overlap from theta sketch STATE: daily click-user and
  // purchase-user sketches intersect/difference without touching raw
  // events again. Under capacity (lgK=12 → 4096 ≫ daily uniques) every
  // estimate is an exact integer, so the oracle replays with
  // COUNT(DISTINCT …) set SQL.
  def qThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val clicks = graft.operators.ThetaSketchOps.build(
      ev.filter(col("event_type") === "click"), Seq("day"), "user_id")
    val purchases = graft.operators.ThetaSketchOps.build(
      ev.filter(col("event_type") === "purchase"), Seq("day"), "user_id")
    graft.operators.ThetaSketchOps.overlap(clicks, purchases, Seq("day"))
  }

  val qThetaOverlapSql: String =
    """WITH c AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
      |  WHERE event_type = 'click' AND user_id IS NOT NULL),
      |p AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
      |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      |a AS (SELECT day, count(DISTINCT user_id) AS n_a FROM c GROUP BY 1),
      |b AS (SELECT day, count(DISTINCT user_id) AS n_b FROM p GROUP BY 1),
      |u AS (
      |  SELECT day, count(DISTINCT user_id) AS n_union
      |  FROM (SELECT * FROM c UNION SELECT * FROM p) GROUP BY 1),
      |i AS (
      |  SELECT c.day, count(DISTINCT c.user_id) AS n_int
      |  FROM c JOIN p ON c.day = p.day AND c.user_id = p.user_id
      |  GROUP BY c.day)
      |SELECT a.day, CAST(n_a AS DOUBLE) AS n_a, CAST(n_b AS DOUBLE) AS n_b,
      |  CAST(n_union AS DOUBLE) AS n_union,
      |  CAST(coalesce(n_int, 0) AS DOUBLE) AS n_intersection,
      |  CAST(n_a AS DOUBLE) - CAST(coalesce(n_int, 0) AS DOUBLE)
      |    AS n_a_not_b
      |FROM a JOIN b USING (day) JOIN u USING (day)
      |LEFT JOIN i ON i.day = a.day""".stripMargin

  // -------------------------------------------------------- forecast eval
  // Seasonal-naive MASE (Hyndman-Koehler) over each event type's daily
  // volume: weekly-lag forecast error vs persistence error, exact
  // integer numerators, one final double division.
  private val Season = 7

  def qForecastEval(s: SparkSession, dir: String): DataFrame =
    graft.operators.ForecastEval.seasonalNaiveDaily(
      t(s, dir, "events"), "event_type", "ts", Season)

  val qForecastEvalSql: String =
    s"""WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dd,
       |    count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |s AS (SELECT k, y,
       |    lag(y, $Season) OVER w AS ys, lag(y, 1) OVER w AS yp
       |  FROM d WINDOW w AS (PARTITION BY k ORDER BY dd)),
       |f AS (SELECT * FROM s WHERE ys IS NOT NULL AND yp IS NOT NULL)
       |SELECT k AS event_type, count(*) AS n_days,
       |  CAST(sum(abs(y - ys)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS mae_seasonal,
       |  CAST(sum(abs(y - yp)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS mae_naive,
       |  CASE WHEN sum(abs(y - yp)) <> 0 THEN
       |    CAST(sum(abs(y - ys)) AS DOUBLE) / CAST(sum(abs(y - yp)) AS DOUBLE)
       |  END AS mase
       |FROM f GROUP BY 1""".stripMargin

  // ----------------------------------------------------- seasonal decomp
  // Classical additive decomposition of each event type's daily volume
  // (operators.Decompose.additiveIntegral): centered MA(7) trend, per-weekday
  // seasonal index, residual. Scaled-integer discipline end to end —
  // every reported double is ONE division of exact integers, so the
  // hash compare needs no decimal rounding. Day rendered as a string
  // (date dtype laundering differs between the two readers).
  def qSeasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.Decompose.additiveIntegral(
      daily, Seq("event_type"), "day", "n", Season,
      pmod(datediff(col("day"), lit("1970-01-01")), lit(Season)))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("period_pos"), col("trend"), col("seasonal"),
        col("resid"))
  }

  val qSeasonalDecompSql: String =
    s"""WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dd,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT k, dd, n,
       |    CAST((dd - DATE '1970-01-01') % $Season AS INT) AS period_pos,
       |    sum(n) OVER w AS s7, count(n) OVER w AS c7
       |  FROM d WINDOW w AS (PARTITION BY k ORDER BY dd
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |tr AS (SELECT k, dd, n, period_pos,
       |    CASE WHEN c7 = $Season THEN s7 END AS num FROM b),
       |seas AS (SELECT k, period_pos,
       |    CAST(sum(n * $Season - num) AS DOUBLE)
       |      / CAST(count(*) * $Season AS DOUBLE) AS seasonal
       |  FROM tr WHERE num IS NOT NULL GROUP BY 1, 2)
       |SELECT tr.k AS event_type, strftime(tr.dd, '%Y-%m-%d') AS day,
       |  tr.n, tr.period_pos,
       |  CAST(num AS DOUBLE) / $Season.0 AS trend,
       |  seas.seasonal,
       |  CASE WHEN num IS NOT NULL AND seas.seasonal IS NOT NULL THEN
       |    CAST(tr.n AS DOUBLE) - CAST(num AS DOUBLE) / $Season.0
       |      - seas.seasonal END AS resid
       |FROM tr LEFT JOIN seas
       |  ON tr.k = seas.k AND tr.period_pos = seas.period_pos""".stripMargin

  // ----------------------------------------------------------- count-min
  // Count-Min point-frequency state over per-user event counts: build
  // depth×width counters, then estimate every user's event count back
  // out of them. width 64 < 150 distinct users at sf0.01, so hash
  // collisions are GUARANTEED and the min-over-rows mechanics (not just
  // the happy path) are what the oracle replays — the DuckDB side
  // rebuilds the identical counters from md5 with the pure-SQL hex fold.
  private val CmDepth = 3
  private val CmWidth = 64

  def qCountMin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val state = graft.operators.CountMin.build(ev, "user_id", CmDepth, CmWidth)
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    graft.operators.CountMin.estimate(state, exact, "user_id", CmDepth, CmWidth)
      .join(exact, Seq("user_id"))
      .select(col("user_id"), col("n_exact"), col("est").as("n_est"))
  }

  val qCountMinSql: String = {
    // 8 hex chars -> BIGINT via the pure-SQL fold (DuckDB has no
    // hex-literal cast); matches Spark's conv(substring(md5,..),16,10)
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    def bucket(item: String, seed: String) =
      hexFold(s"substr(md5($item || ':' || CAST($seed AS VARCHAR)), 1, 8)") +
        s" % $CmWidth"
    s"""WITH ex AS (SELECT user_id, count(*) AS n_exact FROM events
       |            WHERE user_id IS NOT NULL GROUP BY 1),
       |seeds AS (SELECT unnest([${(0 until CmDepth).mkString(", ")}]) AS seed),
       |cells AS (
       |  SELECT seed, ${bucket("CAST(ex.user_id AS VARCHAR)", "seed")} AS bucket,
       |    CAST(sum(n_exact) AS BIGINT) AS counter
       |  FROM ex CROSS JOIN seeds GROUP BY 1, 2),
       |probes AS (
       |  SELECT ex.user_id, ex.n_exact, seed,
       |    ${bucket("CAST(ex.user_id AS VARCHAR)", "seed")} AS bucket
       |  FROM ex CROSS JOIN seeds)
       |SELECT p.user_id, p.n_exact, min(c.counter) AS n_est
       |FROM probes p JOIN cells c USING (seed, bucket)
       |GROUP BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------- registry
  // ------------------------------------------------------------------ acf
  // Per-user autocorrelation of the daily event-count series at lags
  // 1..3 (AutoCorr.acf — all lag columns over ONE window sort, pairs
  // unpivoted map-side, per-(user, lag) decimal Pearson moments). The
  // oracle replays the identical lags and the corrByKey formula, so the
  // hash compare proves the lagged-pair plan bit-exact.
  private val AcfMaxLag = 3

  def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.AutoCorr.acf(daily, "user_id", "day", "cnt", AcfMaxLag)
  }

  val qAcfSql: String = {
    val lagCols = (1 to AcfMaxLag).map(l =>
      s"lag(cnt, $l) OVER (PARTITION BY user_id ORDER BY day) AS x$l")
      .mkString(",\n  ")
    val pairArms = (1 to AcfMaxLag).map(l =>
      s"""SELECT user_id, $l AS "lag", x$l AS x, cnt AS y FROM l
         |  WHERE x$l IS NOT NULL""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH daily AS (
       |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS cnt
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |l AS (SELECT user_id, cnt,
       |  $lagCols
       |  FROM daily),
       |p AS (
       |  $pairArms),
       |m AS (
       |  SELECT user_id, "lag", count(*) AS n,
       |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS sxy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS sxx,
       |    sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS syy
       |  FROM p GROUP BY 1, 2)
       |SELECT user_id, CAST("lag" AS INT) AS "lag", n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
       |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
       |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS acf
       |FROM m""".stripMargin
  }

  // ------------------------------------------------------------ ljung-box
  // Ljung-Box whiteness test of each user's daily event-count series
  // at lags 1..3 (AutoCorr.ljungBox): classical global-mean ACF
  // estimator via the n²-scaled integer expansion (no mean ever
  // materialized), one double division per lag, terms added in
  // explicit ascending-lag left-associative order — the whole χ²
  // statistic is a fixed-shape double over exact integers.
  private val LbMaxLag = 3

  def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.AutoCorr.ljungBox(daily, "user_id", "day", "cnt",
      LbMaxLag)
  }

  val qLjungBoxSql: String = {
    val lagCols = (1 to LbMaxLag).map(l =>
      s"lag(x, $l) OVER (PARTITION BY user_id ORDER BY day) AS x$l")
      .mkString(",\n  ")
    val perLag = (1 to LbMaxLag).map(l =>
      s"""sum(CASE WHEN x$l IS NOT NULL THEN CAST(x AS HUGEINT) * x$l END) AS sxy$l,
         |    sum(CASE WHEN x$l IS NOT NULL THEN x END) AS sy$l,
         |    sum(CASE WHEN x$l IS NOT NULL THEN x$l END) AS sxl$l""".stripMargin)
      .mkString(",\n    ")
    val den = "(CAST(n AS HUGEINT) * n * ss - CAST(n AS HUGEINT) * t * t)"
    val terms = (1 to LbMaxLag).map { k =>
      val num = s"(CAST(n AS HUGEINT) * n * sxy$k" +
        s" - CAST(n AS HUGEINT) * t * (CAST(sy$k AS HUGEINT) + sxl$k)" +
        s" + CAST(n - $k AS HUGEINT) * t * t)"
      s"((CAST($num AS DOUBLE) / CAST($den AS DOUBLE))" +
        s" * (CAST($num AS DOUBLE) / CAST($den AS DOUBLE)))" +
        s" / (CAST(n AS DOUBLE) - $k.0)"
    }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS cnt
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |q AS (SELECT user_id, day,
       |    CAST(CAST(cnt AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
       |  FROM daily),
       |l AS (SELECT user_id, x,
       |  $lagCols
       |  FROM q),
       |m AS (
       |  SELECT user_id, count(*) AS n, sum(x) AS t,
       |    sum(CAST(x AS HUGEINT) * x) AS ss,
       |    $perLag
       |  FROM l GROUP BY 1)
       |SELECT user_id, n,
       |  CASE WHEN n > $LbMaxLag AND CAST($den AS DOUBLE) > 0.0 THEN
       |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ($terms)
       |  END AS q_stat
       |FROM m""".stripMargin
  }

  // --------------------------------------------------------- seq patterns
  // Frequent ordered event sequences up to depth 3 with gaps allowed
  // (SequenceMining.frequentSequences — PrefixSpan restricted to the
  // alphabet-bounded case): "which journeys actually happen", beside
  // q_transitions' adjacent-only matrix and q_assoc's unordered
  // itemsets. Supports are exact user counts; the greedy earliest
  // witness makes depth-3 existence one bounded join.
  private val SeqMinSupport = 0.2

  def qSeqPatterns(s: SparkSession, dir: String): DataFrame =
    graft.operators.SequenceMining.frequentSequences(
      t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
      SeqMinSupport)

  val qSeqPatternsSql: String =
    s"""WITH pos AS (
       |  SELECT user_id AS u, event_type AS t,
       |    CAST(row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS BIGINT) AS p
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |nu AS (SELECT count(DISTINCT u) AS nu FROM pos),
       |fl AS (SELECT u, t, min(p) AS f, max(p) AS l FROM pos
       |  GROUP BY 1, 2),
       |l1 AS (SELECT t AS p1, CAST(NULL AS VARCHAR) AS p2,
       |    CAST(NULL AS VARCHAR) AS p3, 1 AS level, count(*) AS n_users
       |  FROM fl GROUP BY 1),
       |pp AS (SELECT a.u, a.t AS p1, b.t AS p2, a.f AS fa
       |  FROM fl a JOIN fl b ON a.u = b.u AND b.l > a.f),
       |l2 AS (SELECT p1, p2, CAST(NULL AS VARCHAR) AS p3, 2 AS level,
       |    count(*) AS n_users
       |  FROM pp GROUP BY 1, 2),
       |wit AS (SELECT q.u, q.p1, q.p2, min(s.p) AS w
       |  FROM pp q JOIN pos s ON s.u = q.u AND s.t = q.p2 AND s.p > q.fa
       |  GROUP BY 1, 2, 3),
       |l3 AS (SELECT w.p1, w.p2, c.t AS p3, 3 AS level,
       |    count(*) AS n_users
       |  FROM wit w JOIN fl c ON c.u = w.u AND c.l > w.w
       |  GROUP BY 1, 2, 3),
       |uni AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2
       |  UNION ALL SELECT * FROM l3)
       |SELECT p1, p2, p3, level, n_users,
       |  CAST(n_users AS DOUBLE) / CAST(nu AS DOUBLE) AS support
       |FROM uni CROSS JOIN nu
       |WHERE CAST(n_users AS DOUBLE) / CAST(nu AS DOUBLE)
       |  >= $SeqMinSupport""".stripMargin

  // ------------------------------------------------------------------ rbo
  // Rank-biased overlap between two top-10 user rankings per event
  // type — by volume vs by spend (RankOverlap.rboTruncated): the
  // top-weighted agreement gate (geometric weights make top-rank
  // disagreement cost more than tail disagreement — the readout
  // Kendall/Spearman flatten). Weights are exact 1e12-scaled integers
  // shared verbatim with the oracle; every depth term is an exact
  // integral division, one closing double division.
  private val RboK = 10
  private val RboP = 0.9

  def qRbo(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val pu = t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        sum((coalesce(col("value"), lit(0.0)).cast("decimal(18,2)") * 100)
          .cast("long")).as("vc"))
    val wA = w.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("user_id"))
    val wB = w.partitionBy(col("event_type"))
      .orderBy(col("vc").desc, col("user_id"))
    val ra = pu.select(col("event_type"), col("user_id"),
        row_number().over(wA).as("rank")).filter(col("rank") <= RboK)
    val rb = pu.select(col("event_type"), col("user_id"),
        row_number().over(wB).as("rank")).filter(col("rank") <= RboK)
    graft.operators.RankOverlap.rboTruncated(
      ra, rb, "event_type", "user_id", "rank", RboK, RboP)
  }

  val qRboSql: String = {
    val ws = graft.operators.RankOverlap.weights12(RboK, RboP)
    val wArm = ws.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    s"""WITH pu AS (
       |  SELECT event_type, user_id, count(*) AS cnt,
       |    CAST(sum(CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS vc
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |ra AS (SELECT event_type, user_id, rn FROM (
       |  SELECT event_type, user_id, row_number() OVER (
       |    PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rn
       |  FROM pu) WHERE rn <= $RboK),
       |rb AS (SELECT event_type, user_id, rn FROM (
       |  SELECT event_type, user_id, row_number() OVER (
       |    PARTITION BY event_type ORDER BY vc DESC, user_id) AS rn
       |  FROM pu) WHERE rn <= $RboK),
       |m AS (SELECT ra.event_type, greatest(ra.rn, rb.rn) AS mm
       |  FROM ra JOIN rb ON ra.event_type = rb.event_type
       |    AND ra.user_id = rb.user_id
       |  WHERE greatest(ra.rn, rb.rn) <= $RboK),
       |keys AS (SELECT DISTINCT event_type FROM (
       |  SELECT event_type FROM ra UNION ALL SELECT event_type FROM rb)),
       |grid AS (SELECT k.event_type, CAST(d.d AS BIGINT) AS d
       |  FROM keys k CROSS JOIN range(1, ${RboK + 1}) d(d)),
       |ov AS (SELECT g.event_type, g.d,
       |    CAST(sum(CASE WHEN m.mm <= g.d THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ov
       |  FROM grid g LEFT JOIN m ON m.event_type = g.event_type
       |  GROUP BY 1, 2),
       |tt AS (SELECT event_type,
       |    (CAST(w AS HUGEINT) * ov - (CAST(w AS HUGEINT) * ov) % d)
       |      // d AS t
       |  FROM (SELECT event_type, d, ov,
       |    CASE d $wArm END AS w FROM ov))
       |SELECT event_type, CAST(sum(t) AS BIGINT) AS rbo_p12,
       |  CAST(sum(t) AS DOUBLE) / 1.0e12 * ${1.0 - RboP} AS rbo
       |FROM tt GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------- mann-kendall
  // Mann-Kendall monotone-trend test of each event type's daily volume
  // (TrendTest.mannKendall): S over sign pairs, tie-corrected 18·Var(S)
  // as an exact integer, continuity-corrected z — the hypothesis-test
  // companion to q_robust_trend's Theil-Sen slope on the same grid.
  def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.TrendTest.mannKendall(daily, "event_type", "day", "cnt")
  }

  val qMannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type, day,
      |    CAST(CAST(cnt AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM daily),
      |s AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b2.c > a.c THEN 1
      |      WHEN b2.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM b a JOIN b b2
      |    ON a.event_type = b2.event_type AND a.day < b2.day
      |  GROUP BY 1),
      |g AS (SELECT event_type, c, count(*) AS t FROM b GROUP BY 1, 2),
      |ties AS (
      |  SELECT event_type,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie,
      |    CAST(sum(t) AS BIGINT) AS n
      |  FROM g GROUP BY 1),
      |v AS (
      |  SELECT ties.event_type, n, COALESCE(s.s_stat, 0) AS s_stat,
      |    n * (n - 1) * (2 * n + 5) - tie AS var18
      |  FROM ties LEFT JOIN s ON ties.event_type = s.event_type)
      |SELECT event_type, n, s_stat, var18,
      |  CASE WHEN n >= 2 AND var18 > 0 THEN
      |    CASE WHEN s_stat > 0
      |      THEN (CAST(s_stat AS DOUBLE) - 1.0)
      |        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |    WHEN s_stat < 0
      |      THEN (CAST(s_stat AS DOUBLE) + 1.0)
      |        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |    ELSE 0.0 END
      |  END AS z
      |FROM v""".stripMargin

  // ------------------------------------------------------------------ ccf
  // Per-event-type lead–lag: does daily event VOLUME predict daily
  // DISTINCT USERS l days ahead? Cross-correlation at lags 0..3
  // (AutoCorr.ccf — same one-window/inline-unpivot plan and decimal
  // Pearson moments as q_acf; lag 0 is the contemporaneous check).
  private val CcfMaxLag = 3

  def qCcf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("users"))
    graft.operators.AutoCorr.ccf(daily, "event_type", "day",
      "cnt", "users", CcfMaxLag)
  }

  val qCcfSql: String = {
    val lagCols = (1 to CcfMaxLag).map(l =>
      s"lag(cnt, $l) OVER (PARTITION BY event_type ORDER BY day) AS x$l")
      .mkString(",\n  ")
    val pairArms = (0 to CcfMaxLag).map { l =>
      val x = if (l == 0) "cnt" else s"x$l"
      s"""SELECT event_type, $l AS "lag", $x AS x, users AS y FROM l
         |  WHERE $x IS NOT NULL AND users IS NOT NULL""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', ts) AS day,
       |    count(*) AS cnt, count(DISTINCT user_id) AS users
       |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
       |l AS (SELECT event_type, cnt, users,
       |  $lagCols
       |  FROM daily),
       |p AS (
       |  $pairArms),
       |m AS (
       |  SELECT event_type, "lag", count(*) AS n,
       |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS sxy,
       |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS sxx,
       |    sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS syy
       |  FROM p GROUP BY 1, 2)
       |SELECT event_type, CAST("lag" AS INT) AS "lag", n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
       |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
       |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS ccf
       |FROM m""".stripMargin
  }

  // --------------------------------------------------------- rolling trend
  // Per-user trailing-7-day OLS slope of daily event counts: windowed
  // decimal partials (one frame, one per-key sort) + the fixed-shape
  // trendByKey formula per row — "is this user's activity locally
  // rising, and how fast" next to q_trend's global slope and q_ewma's
  // direction-free smoothing.
  private val RollWindow = 7
  private val RollMin = 3

  def qRollingTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("day_idx",
        datediff(col("day").cast("date"), lit("1970-01-01").cast("date")))
    graft.operators.Stats.rollingTrend(daily, "user_id", "day",
        "day_idx", "cnt", RollWindow, RollMin)
      // DATE output on both sides (DuckDB's date_trunc('day') is a DATE)
      .select(col("user_id"), col("day").cast("date").as("day"),
        col("n_win"), col("slope"))
  }

  val qRollingTrendSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS cnt
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |d2 AS (SELECT user_id, day,
       |  CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE))
       |    AS DECIMAL(18,2)) AS x,
       |  CAST(cnt AS DECIMAL(18,2)) AS y FROM daily),
       |ws AS (SELECT user_id, day,
       |  count(x) OVER w AS n,
       |  sum(x) OVER w AS sx, sum(y) OVER w AS sy,
       |  sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
       |  FROM d2
       |  WINDOW w AS (PARTITION BY user_id ORDER BY day
       |    ROWS BETWEEN ${RollWindow - 1} PRECEDING AND CURRENT ROW))
       |SELECT user_id, CAST(day AS DATE) AS day, CAST(n AS BIGINT) AS n_win,
       |  CASE WHEN n >= $RollMin
       |    AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
       |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |  END AS slope
       |FROM ws""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_rolling_trend", qRollingTrend, qRollingTrendSql),
    Query("q_ccf", qCcf, qCcfSql),
    Query("q_acf", qAcf, qAcfSql),
    Query("q_ljung_box", qLjungBox, qLjungBoxSql),
    Query("q_mann_kendall", qMannKendall, qMannKendallSql),
    Query("q_rbo", qRbo, qRboSql),
    Query("q_seq_patterns", qSeqPatterns, qSeqPatternsSql),
    Query("q_funnel", qFunnel, qFunnelSql),
    Query("q_transitions", qTransitions, qTransitionsSql),
    Query("q_anomaly", qAnomaly, qAnomalySql),
    Query("q_heavy", qHeavy, qHeavySql),
    Query("q_heavy_user", qHeavyUser, qHeavyUserSql),
    Query("q_quantile_state", qQuantileState, qQuantileStateSql),
    Query("q_gains", qGainsTable, qGainsTableSql),
    Query("q_pop", qPop, qPopSql),
    Query("q_theta_overlap", qThetaOverlap, qThetaOverlapSql),
    Query("q_forecast_eval", qForecastEval, qForecastEvalSql),
    Query("q_seasonal_decomp", qSeasonalDecomp, qSeasonalDecompSql),
    Query("q_countmin", qCountMin, qCountMinSql),
  )
}
