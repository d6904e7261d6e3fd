package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** Event-pipeline query group, LIFECYCLE / LABELS / SURVIVAL family:
  * SCD2 dimension history + apply, retention cohorts, decayed scores,
  * time-to-conversion, Kaplan-Meier risk tables, next-event labeling,
  * cohort LTV, churn labels, and RFM segmentation. (Sessions/streams
  * live in [[QueriesEvents]]; funnel/attribution analytics in
  * [[QueriesFunnel]].)
  */
object QueriesLifecycle {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // -------------------------------------------------------- scd2 history
  // Type-2 history of each user's event_type from the event log. Validity
  // bounds are emitted in epoch MICROSECONDS (qSessionize's rule: the
  // engines canonicalize sub-us precision differently; integers do not).
  def qScd2History(s: SparkSession, dir: String): DataFrame =
    Scd2.fromChangeLog(t(s, dir, "events"),
        Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"))
      .select(col("user_id"), col("version"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("n_events"))

  // the change flag compares STRUCT-WRAPPED values on both engines: the
  // Spark side's lag(struct(tracked)) is NULL only on a key's first row
  // (a struct of NULLs is not NULL), so versions are always 1-based even
  // when the first tracked value is NULL — a bare-scalar lag comparison
  // would silently number such keys from 0
  val qScd2HistorySql: String =
    """WITH runs AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    CASE WHEN lag(struct_pack(v := event_type)) OVER w
      |           IS NOT DISTINCT FROM struct_pack(v := event_type)
      |         THEN 0 ELSE 1 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |vers AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM runs),
      |hist AS (
      |  SELECT user_id, version, event_type, min(ts_us) AS valid_from_us,
      |    count(*) AS n_events
      |  FROM vers GROUP BY user_id, version, event_type)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |  valid_from_us,
      |  lead(valid_from_us) OVER
      |    (PARTITION BY user_id ORDER BY version) AS valid_to_us,
      |  n_events
      |FROM hist""".stripMargin

  // ---------------------------------------------------------- scd2 apply
  // Daily-load path: history built from the first half of the log,
  // advanced by one snapshot of each user's LATEST event_type. Every
  // user is active in every time window of the synthetic log, so the
  // delete/insert outcomes are driven by modular key filters instead:
  // user_id % 5 = 0 is absent from history (snapshot INSERTs it),
  // user_id % 7 = 0 is absent from the snapshot (apply CLOSEs it) —
  // all four applySnapshot outcomes fire against the SQL twin.
  def qScd2Apply(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
    val hist = Scd2.fromChangeLog(
        ev.filter(col("ts") < cutoff && col("user_id") % 5 =!= 0),
        Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        col("valid_from"), col("valid_to"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val snap = ev.filter(col("user_id") % 7 =!= 0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("user_id"), col("event_type"))
    Scd2.applySnapshot(hist, snap, Seq("user_id"), Seq("event_type"),
        lit("2024-01-30 00:00:00").cast("timestamp"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"))
  }

  val qScd2ApplySql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      |    AND user_id % 5 <> 0),
      |runs AS (
      |  SELECT *, CASE WHEN lag(struct_pack(v := event_type)) OVER w
      |      IS NOT DISTINCT FROM struct_pack(v := event_type)
      |    THEN 0 ELSE 1 END AS chg
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |vers AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM runs),
      |hist AS (
      |  SELECT user_id, version, event_type, min(ts_us) AS vf
      |  FROM vers GROUP BY user_id, version, event_type),
      |hist2 AS (
      |  SELECT user_id, event_type, vf,
      |    lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
      |  FROM hist),
      |snap AS (
      |  SELECT user_id, event_type FROM (
      |    SELECT user_id, event_type, row_number() OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC)
      |      AS rn
      |    FROM events WHERE user_id % 7 <> 0) WHERE rn = 1),
      |j AS (
      |  SELECT h.user_id AS hk, h.event_type AS hv, h.vf AS hvf,
      |         s.user_id AS sk, s.event_type AS sv,
      |         epoch_us(TIMESTAMP '2024-01-30 00:00:00') AS load_us
      |  FROM (SELECT * FROM hist2 WHERE vt IS NULL) h
      |  FULL OUTER JOIN snap s ON h.user_id = s.user_id)
      |SELECT hk AS user_id, hv AS event_type, hvf AS valid_from_us,
      |  load_us AS valid_to_us
      |FROM j WHERE hk IS NOT NULL AND (sk IS NULL OR hv IS DISTINCT FROM sv)
      |UNION ALL
      |SELECT hk, hv, hvf, NULL FROM j
      |WHERE hk IS NOT NULL AND sk IS NOT NULL AND hv IS NOT DISTINCT FROM sv
      |UNION ALL
      |SELECT sk, sv, load_us, NULL FROM j
      |WHERE sk IS NOT NULL AND (hk IS NULL OR hv IS DISTINCT FROM sv)
      |UNION ALL
      |SELECT user_id, event_type, vf, vt FROM hist2 WHERE vt IS NOT NULL"""
      .stripMargin

  // ------------------------------------------------------------- retention
  // Weekly cohort retention triangle. Period indices are FLOOR division
  // of epoch-us on both sides (the operator pmod-adjusts Spark's
  // truncating DIV; DuckDB's // floors natively).
  private val RetentionDays = 7
  private val RetentionPeriodUs =
    graft.operators.Retention.periodUs(RetentionDays)

  def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.cohorts(t(s, dir, "events"),
      "user_id", "ts", RetentionDays)

  val qRetentionSql: String =
    s"""WITH act AS (SELECT DISTINCT user_id,
       |               epoch_us(ts) // $RetentionPeriodUs AS period
       |             FROM events),
       |coh AS (SELECT user_id, min(period) AS cohort_period
       |        FROM act GROUP BY user_id)
       |SELECT cohort_period, period - cohort_period AS period_offset,
       |  count(*) AS n_active
       |FROM act JOIN coh USING (user_id)
       |GROUP BY cohort_period, period - cohort_period""".stripMargin

  // ----------------------------------------------------------- decay
  // Exponentially time-decayed engagement per user, reference date = the
  // newest event date. The one transcendental (pow) is decimal-rounded
  // per row before the multiply (qBm25's rule); value is exact at two
  // decimals; the sum runs entirely in decimal. DECIMAL(12,2) keeps the
  // product precision at 33 — below Spark's 38 cap, so neither engine
  // rescales it.
  private val DecayLambda = 0.9

  def qDecay(s: SparkSession, dir: String): DataFrame =
    graft.operators.DecayScore.scoreFromMaxDate(
        t(s, dir, "events"), "user_id", "ts", "value", DecayLambda)
      // compared projection: decimal -> double via a scale-6 waypoint
      // (unscaled fits 2^53 exactly, so the one division is correctly
      // rounded on both engines); a raw scale-14 cast has a >2^53
      // unscaled value and can diverge by an ulp
      .withColumn("score", col("score").cast("decimal(24,6)").cast("double"))

  val qDecaySql: String =
    s"""WITH r AS (SELECT max(CAST(ts AS DATE)) AS ref FROM events)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  -- round(), not a decimal cast: DuckDB's decimal->decimal cast
       |  -- TRUNCATES while Spark's rounds HALF_UP; round() half-away
       |  -- matches Spark for the positive scores here
       |  CAST(round(CAST(sum(CAST(value AS DECIMAL(12,2)) *
       |      CAST(pow($DecayLambda, greatest(
       |        date_diff('day', CAST(ts AS DATE), ref), 0))
       |        AS DECIMAL(20,12)))
       |    AS DECIMAL(38,14)), 6) AS DOUBLE) AS score
       |FROM events CROSS JOIN r
       |GROUP BY user_id""".stripMargin

  // ------------------------------------------------- time to conversion
  // Survival-analysis prep: per user, the time from first view to the
  // first subsequent purchase; users who never convert get the CENSORED
  // time to the observation end (converted = 0) — the (duration, event)
  // pair survival models train on. Integer micros, conditional
  // aggregation, one broadcast censor point.
  def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val ref = ev.agg(max(col("us")).as("ref"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") >= col("view_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
    firstView.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(ref))
      .select(col("user_id"), col("view_us"),
        coalesce(col("purchase_us") - col("view_us"),
          col("ref") - col("view_us")).as("duration_us"),
        col("purchase_us").isNotNull.cast("int").as("converted"))
  }

  val qTimeToConvertSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |r AS (SELECT max(us) AS ref FROM e),
      |fv AS (SELECT user_id, min(us) AS view_us FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |cv AS (
      |  SELECT e.user_id, min(e.us) AS purchase_us
      |  FROM e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
      |  GROUP BY 1)
      |SELECT fv.user_id, fv.view_us,
      |  coalesce(cv.purchase_us - fv.view_us,
      |    (SELECT ref FROM r) - fv.view_us) AS duration_us,
      |  CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
      |FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id""".stripMargin

  // -------------------------------------------------------- KM risk table
  // Kaplan-Meier risk table over the q_time_to_convert pairs: for each
  // distinct event time, subjects at risk (duration >= t), events d,
  // and censorings c at t — the integer-exact survival deliverable (the
  // curve itself is a sequential product, computed client-side from
  // these counts). Routed through Survival.riskTable: one groupBy on
  // duration + a reverse running count over the per-time aggregate —
  // no labels×times cross join anywhere in the plan (pinned in
  // PlanSpec), so the shape survives a 100× cohort.
  def qKmRisk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Survival.riskTable(
      qTimeToConvert(s, dir).select(col("duration_us"), col("converted")),
      "duration_us", "converted")

  val qKmRiskSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |cv AS (
       |  SELECT e.user_id, min(e.us) AS purchase_us
       |  FROM e JOIN fv ON e.user_id = fv.user_id
       |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |  GROUP BY 1),
       |lab AS (
       |  SELECT coalesce(cv.purchase_us - fv.view_us,
       |      (SELECT ref FROM r) - fv.view_us) AS duration_us,
       |    CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
       |  FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id),
       |times AS (
       |  SELECT duration_us AS t, count(*) AS d FROM lab
       |  WHERE converted = 1 GROUP BY 1)
       |SELECT times.t,
       |  CAST(count(*) FILTER (lab.duration_us >= times.t) AS BIGINT)
       |    AS n_at_risk,
       |  CAST(any_value(times.d) AS BIGINT) AS d,
       |  CAST(count(*) FILTER (lab.duration_us = times.t
       |    AND lab.converted = 0) AS BIGINT) AS censored_at_t
       |FROM lab CROSS JOIN times
       |GROUP BY times.t""".stripMargin

  // ----------------------------------------------------- next-event label
  // Supervised sequence labels: each event's next event type and the
  // time until it (null at stream end) — one per-user window sort, the
  // training-label mirror of q_transitions' aggregate view.
  def qNextEvent(s: SparkSession, dir: String): DataFrame = {
    // ordering by the micros projection (monotone with ts, same ties)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (lead(col("us"), 1).over(w) - col("us")).as("delta_us"))
  }

  val qNextEventSql: String =
    """SELECT event_id, user_id, event_type,
      |  lead(event_type) OVER w AS next_type,
      |  lead(epoch_us(ts)) OVER w - epoch_us(ts) AS delta_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ----------------------------------------------------------- cohort ltv
  // Cohort revenue (LTV) triangle — the money analogue of q_retention:
  // per (first-activity cohort period, offset), purchase revenue and
  // payer counts. Same pmod-adjusted FLOOR-division period idiom (exact
  // vs DuckDB //), revenue in exact decimal. Cohort membership comes
  // from ALL activity (a user's cohort is their first event, not their
  // first purchase).
  private val LtvPeriodUs = 7L * 86400L * 1000000L

  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val withPeriod = ev.select(col("user_id"), col("event_type"),
      col("value"),
      expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $LtvPeriodUs))" +
        s" DIV $LtvPeriodUs").as("period"))
    val cohort = withPeriod.groupBy(col("user_id"))
      .agg(min(col("period")).as("cohort_period"))
    withPeriod
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_period"),
        (col("period") - col("cohort_period")).as("period_offset"))
      .agg(
        sum(col("value").cast("decimal(12,2)")).cast("double").as("revenue"),
        countDistinct(col("user_id")).as("n_payers"),
        count(lit(1)).as("n_purchases"))
  }

  val qCohortLtvSql: String =
    s"""WITH wp AS (
       |  SELECT user_id, event_type, value,
       |    epoch_us(ts) // $LtvPeriodUs AS period
       |  FROM events),
       |coh AS (SELECT user_id, min(period) AS cohort_period
       |        FROM wp GROUP BY user_id)
       |SELECT cohort_period, period - cohort_period AS period_offset,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       |  count(DISTINCT wp.user_id) AS n_payers,
       |  count(*) AS n_purchases
       |FROM wp JOIN coh USING (user_id)
       |WHERE event_type = 'purchase' AND value IS NOT NULL
       |GROUP BY cohort_period, period - cohort_period""".stripMargin

  // ---------------------------------------------------------- churn
  // Churn labels: a user is churned if silent for the last 7 days of
  // the observation window — the standard supervised-label prep, one
  // aggregation plus a broadcast scalar (the DecayScore lazy-reference
  // shape). Integer micros end to end.
  def qChurnLabel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val ref = ev.agg(max(unix_micros(col("ts"))).as("ref"))
    ev.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(ref))
      .select(col("user_id"), col("last_us"), col("n_events"),
        (col("last_us") < col("ref") - lit(7L * 86400L * 1000000L))
          .cast("int").as("churned"))
  }

  val qChurnLabelSql: String =
    """WITH r AS (SELECT max(epoch_us(ts)) AS ref FROM events)
      |SELECT user_id, max(epoch_us(ts)) AS last_us,
      |  count(*) AS n_events,
      |  CAST(max(epoch_us(ts)) < any_value(ref) - 604800000000 AS INT)
      |    AS churned
      |FROM events CROSS JOIN r
      |GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- rfm
  // RFM customer scoring: recency / frequency / monetary quintiles over
  // purchase history — the classic segmentation composite, built from
  // exact primitives (integer day arithmetic, decimal money,
  // Discretize.equalFrequency whose arithmetic-ntile was proven equal
  // to the engines' native ntile in q_bins). The global quintile is a
  // single-partition sort here; at scale score per cohort (a real key)
  // or swap in sketch cutoffs (Sampling.cutoffForKeepRate) — the
  // composite itself is unchanged.
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Discretize
    val p = t(s, dir, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
    val ref = p.agg(max(unix_micros(col("ts"))).as("ref"))
    val agg = p.groupBy(col("user_id")).agg(
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(12,2)")).as("mon"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", expr("(ref - last_us) div 86400000000"))
      .withColumn("__all", lit(1))
    val binned = Seq(("recency_days", "__br"), ("frequency", "__bf"),
      ("mon", "__bm")).foldLeft(agg) { case (d, (v, b)) =>
        Discretize.equalFrequency(d, "__all", v, "user_id", 5, b)
      }
    binned.select(col("user_id"), col("recency_days"), col("frequency"),
      col("mon").cast("double").as("monetary"),
      (lit(6) - col("__br")).cast("int").as("r"),
      col("__bf").as("f"), col("__bm").as("m"),
      ((lit(6) - col("__br")) * 100 + col("__bf") * 10 + col("__bm"))
        .cast("int").as("segment"))
  }

  val qRfmSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS t, CAST(value AS DECIMAL(12,2))
      |    AS v
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      |r0 AS (SELECT max(t) AS ref FROM p),
      |a AS (
      |  SELECT user_id, max(t) AS last_us, count(*) AS frequency,
      |    sum(v) AS mon
      |  FROM p GROUP BY 1),
      |b AS (
      |  SELECT user_id, (ref - last_us) // 86400000000 AS recency_days,
      |    frequency, mon
      |  FROM a CROSS JOIN r0),
      |s AS (
      |  SELECT user_id, recency_days, CAST(frequency AS BIGINT)
      |      AS frequency,
      |    CAST(mon AS DOUBLE) AS monetary,
      |    CAST(6 - ntile(5) OVER (ORDER BY recency_days, user_id) AS INT)
      |      AS r,
      |    CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT) AS f,
      |    CAST(ntile(5) OVER (ORDER BY mon, user_id) AS INT) AS m
      |  FROM b)
      |SELECT user_id, recency_days, frequency, monetary, r, f, m,
      |  r * 100 + f * 10 + m AS segment
      |FROM s""".stripMargin

  // -------------------------------------------------------------- logrank
  // Two-arm log-rank test over the time-to-convert cohort: arms by
  // user-id parity (the deterministic experiment-split stand-in),
  // durations binned to 1-hour buckets (Survival's documented
  // continuous-duration contract — microsecond resolution would make
  // the per-time table cohort-sized). E and V accumulate in integer
  // micro units (HUGEINT/DECIMAL-widened products, integral division),
  // so the oracle replays them exactly; the χ² is one fixed-shape
  // double expression.
  private val LogRankBucketUs = 3.6e9 // 1 hour

  def qLogRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Survival.logRank(
      qTimeToConvert(s, dir).select(
        when(col("user_id") % 2 === 0, "a").otherwise("b").as("arm"),
        col("duration_us"), col("converted")),
      "duration_us", "converted", "arm", "a", "b",
      durationBucket = Some(LogRankBucketUs))

  val qLogRankSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |cv AS (
       |  SELECT e.user_id, min(e.us) AS purchase_us
       |  FROM e JOIN fv ON e.user_id = fv.user_id
       |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |  GROUP BY 1),
       |lab AS (
       |  SELECT CASE WHEN fv.user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
       |    coalesce(cv.purchase_us - fv.view_us,
       |      (SELECT ref FROM r) - fv.view_us) AS duration_us,
       |    CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
       |  FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id),
       |bt AS (SELECT arm,
       |  floor(duration_us / $LogRankBucketUs) * $LogRankBucketUs AS t,
       |  converted FROM lab),
       |per AS (SELECT t,
       |  sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS na_tot,
       |  sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS nb_tot,
       |  sum(CASE WHEN arm = 'a' AND converted = 1 THEN 1 ELSE 0 END) AS da,
       |  sum(CASE WHEN arm = 'b' AND converted = 1 THEN 1 ELSE 0 END) AS db
       |  FROM bt GROUP BY t),
       |w AS (SELECT per.*,
       |  sum(na_tot) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS na,
       |  sum(nb_tot) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS nb
       |  FROM per),
       |terms AS (SELECT na_tot, nb_tot, da, db, na, nb,
       |  na + nb AS n, da + db AS d FROM w),
       |mic AS (SELECT na_tot, nb_tot, da, db,
       |  CAST((1000000::HUGEINT * d * na) // n AS BIGINT) AS e_micro,
       |  CASE WHEN n > 1 THEN
       |    CAST((1000000::HUGEINT * d * na * nb * (n - d))
       |      // (n::HUGEINT * n * (n - 1)) AS BIGINT)
       |    ELSE 0 END AS v_micro
       |  FROM terms),
       |agg AS (SELECT
       |  CAST(sum(na_tot) AS BIGINT) AS n_a,
       |  CAST(sum(nb_tot) AS BIGINT) AS n_b,
       |  CAST(sum(da) AS BIGINT) AS o_a,
       |  CAST(sum(db) AS BIGINT) AS o_b,
       |  CAST(sum(e_micro) AS BIGINT) AS e_a_micro,
       |  CAST(sum(v_micro) AS BIGINT) AS v_micro
       |  FROM mic)
       |SELECT n_a, n_b, o_a, o_b, e_a_micro, v_micro,
       |  CASE WHEN v_micro > 0 THEN
       |    CAST(1000000 * o_a - e_a_micro AS DOUBLE) *
       |    CAST(1000000 * o_a - e_a_micro AS DOUBLE)
       |    / (1000000.0 * CAST(v_micro AS DOUBLE)) END AS chi2
       |FROM agg""".stripMargin

  // ------------------------------------------------------- cumulative hazard
  // Nelson–Aalen cumulative hazard over the q_time_to_convert cohort at
  // 1-hour duration buckets (the riskTable durationBucket contract for
  // continuous durations): per bucket, h = d/n_at_risk as one integral
  // micro division, H(t) as an INTEGER window cumsum — the additive,
  // order-independent survival curve (the KM product is sequential
  // float math; S(t) ≈ exp(−H) client-side). Same single-task windows
  // over the per-time AGGREGATE as q_km_risk.
  def qCumHazard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Survival.cumulativeHazard(
      qTimeToConvert(s, dir).select(col("duration_us"), col("converted")),
      "duration_us", "converted", durationBucket = Some(LogRankBucketUs))

  val qCumHazardSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |cv AS (
       |  SELECT e.user_id, min(e.us) AS purchase_us
       |  FROM e JOIN fv ON e.user_id = fv.user_id
       |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |  GROUP BY 1),
       |lab AS (
       |  SELECT coalesce(cv.purchase_us - fv.view_us,
       |      (SELECT ref FROM r) - fv.view_us) AS duration_us,
       |    CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
       |  FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id),
       |bt AS (SELECT
       |  floor(duration_us / $LogRankBucketUs) * $LogRankBucketUs AS t,
       |  converted FROM lab),
       |per AS (SELECT t, count(*) AS n_total,
       |  sum(converted) AS d FROM bt GROUP BY 1),
       |w AS (SELECT t,
       |  CAST(sum(n_total) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS n_at_risk,
       |  CAST(d AS BIGINT) AS d FROM per),
       |f AS (SELECT t, n_at_risk, d,
       |  CAST((1000000::HUGEINT * d) // n_at_risk AS BIGINT) AS h_micro
       |  FROM w WHERE d > 0)
       |SELECT t, n_at_risk, d, h_micro,
       |  CAST(sum(h_micro) OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cum_hazard_micro
       |FROM f""".stripMargin

  // --------------------------------------------------------- kaplan-meier
  // The product-limit curve itself over the q_cum_hazard cohort —
  // engine-exact through the PSI libm-waypoint idiom: per-time
  // ln((n-d)/n) rounded through DECIMAL(20,12), cumulative DECIMAL
  // window sum (order-independent), final exp waypointed the same way.
  // The scaladoc's "KM is sequential float math" objection is answered
  // in log space, not worked around.
  def qKaplanMeier(s: SparkSession, dir: String): DataFrame =
    graft.operators.Survival.kaplanMeier(
      qTimeToConvert(s, dir).select(col("duration_us"), col("converted")),
      "duration_us", "converted", durationBucket = Some(LogRankBucketUs))

  private val kmCtes: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |cv AS (
       |  SELECT e.user_id, min(e.us) AS purchase_us
       |  FROM e JOIN fv ON e.user_id = fv.user_id
       |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |  GROUP BY 1),
       |lab AS (
       |  SELECT coalesce(cv.purchase_us - fv.view_us,
       |      (SELECT ref FROM r) - fv.view_us) AS duration_us,
       |    CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
       |  FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id),
       |bt AS (SELECT
       |  floor(duration_us / $LogRankBucketUs) * $LogRankBucketUs AS t,
       |  converted FROM lab),
       |per AS (SELECT t, count(*) AS n_total,
       |  sum(converted) AS d,
       |  count(*) - sum(converted) AS censored FROM bt GROUP BY 1),
       |w AS (SELECT t,
       |  CAST(sum(n_total) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS n_at_risk,
       |  CAST(d AS BIGINT) AS d, CAST(censored AS BIGINT) AS censored
       |  FROM per),
       |f AS (SELECT * FROM w WHERE d > 0),
       |terms AS (SELECT t, n_at_risk, d, censored,
       |  CASE WHEN n_at_risk > d THEN
       |    CAST(ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
       |      AS DECIMAL(20,12)) END AS term,
       |  CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS z
       |  FROM f),
       |acc AS (SELECT t, n_at_risk, d, censored,
       |  sum(term) OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS logs,
       |  max(z) OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS zeroed
       |  FROM terms)""".stripMargin

  // ---------------------------------------------------- cum_incidence
  // Competing risks on the view cohort: first PURCHASE races first
  // ERROR; Aalen-Johansen CIFs for both causes (naive 1−KM per cause
  // would overstate both). Tie at the same microsecond → purchase
  // (explicit CASE — least()'s null semantics differ across engines).
  def qCumIncidence(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val ref = ev.agg(max(col("us")).as("ref"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    def firstOf(et: String, out: String) =
      ev.filter(col("event_type") === et)
        .join(fv, Seq("user_id"))
        .filter(col("us") >= col("view_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as(out))
    val labels = fv
      .join(firstOf("purchase", "p_us"), Seq("user_id"), "left")
      .join(firstOf("error", "e_us"), Seq("user_id"), "left")
      .crossJoin(broadcast(ref))
      .select(
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")),
          col("p_us") - col("view_us"))
          .when(col("e_us").isNotNull, col("e_us") - col("view_us"))
          .otherwise(col("ref") - col("view_us")).as("duration_us"),
        when(col("p_us").isNotNull &&
            (col("e_us").isNull || col("p_us") <= col("e_us")), lit(1))
          .when(col("e_us").isNotNull, lit(2))
          .otherwise(lit(0)).as("cause"))
    graft.operators.Survival.cumulativeIncidence(labels,
      "duration_us", "cause", Some(LogRankBucketUs))
  }

  val qCumIncidenceSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |fp AS (SELECT e.user_id, min(e.us) AS p_us
       |       FROM e JOIN fv ON e.user_id = fv.user_id
       |       WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |       GROUP BY 1),
       |fe AS (SELECT e.user_id, min(e.us) AS e_us
       |       FROM e JOIN fv ON e.user_id = fv.user_id
       |       WHERE e.event_type = 'error' AND e.us >= fv.view_us
       |       GROUP BY 1),
       |lab AS (SELECT
       |    CASE WHEN fp.p_us IS NOT NULL
       |          AND (fe.e_us IS NULL OR fp.p_us <= fe.e_us)
       |      THEN fp.p_us - fv.view_us
       |      WHEN fe.e_us IS NOT NULL THEN fe.e_us - fv.view_us
       |      ELSE (SELECT ref FROM r) - fv.view_us END AS duration_us,
       |    CASE WHEN fp.p_us IS NOT NULL
       |          AND (fe.e_us IS NULL OR fp.p_us <= fe.e_us) THEN 1
       |      WHEN fe.e_us IS NOT NULL THEN 2 ELSE 0 END AS cause
       |  FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
       |  LEFT JOIN fe ON fv.user_id = fe.user_id),
       |bt AS (SELECT
       |    floor(duration_us / $LogRankBucketUs) * $LogRankBucketUs AS t,
       |    cause FROM lab),
       |per AS (SELECT t, count(*) AS nt,
       |    count(*) FILTER (cause = 1) AS d1,
       |    count(*) FILTER (cause = 2) AS d2
       |  FROM bt GROUP BY 1),
       |w AS (SELECT t,
       |    CAST(sum(nt) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS n_at_risk,
       |    CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       |    CAST(d1 + d2 AS BIGINT) AS d
       |  FROM per),
       |f AS (SELECT * FROM w WHERE d > 0),
       |lg AS (SELECT *,
       |    CASE WHEN n_at_risk > d THEN
       |      CAST(ln(CAST(n_at_risk - d AS DOUBLE)
       |          / CAST(n_at_risk AS DOUBLE)) AS DECIMAL(20,12)) END
       |      AS logterm,
       |    CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS z
       |  FROM f),
       |sp AS (SELECT *,
       |    coalesce(max(z) OVER (ORDER BY t ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS zprev,
       |    coalesce(sum(logterm) OVER (ORDER BY t ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      CAST(0 AS DECIMAL(20,12))) AS logprev
       |  FROM lg),
       |sv AS (SELECT *,
       |    CASE WHEN zprev = 1 THEN 0.0
       |      ELSE CAST(CAST(exp(CAST(logprev AS DOUBLE))
       |        AS DECIMAL(20,12)) AS DOUBLE) END AS sprev
       |  FROM sp),
       |inc AS (SELECT t, n_at_risk, d1, d2,
       |    CAST(sprev * (CAST(d1 AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
       |      AS DECIMAL(20,12)) AS i1,
       |    CAST(sprev * (CAST(d2 AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
       |      AS DECIMAL(20,12)) AS i2
       |  FROM sv)
       |SELECT t, n_at_risk, d1, d2,
       |  CAST(sum(i1) OVER (ORDER BY t ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS cif1,
       |  CAST(sum(i2) OVER (ORDER BY t ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS cif2
       |FROM inc""".stripMargin

  // -------------------------------------------------------------- cox
  // Cox proportional hazards on the same time-to-convert cohort:
  // hazard ratio of users who CLICKED before their first view vs the
  // rest — the log-rank family's regression step. 3 Newton rounds,
  // one quantized exp(beta) per round, unrolled by the oracle.
  private val CoxIters = 3

  def qCox(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val labels = qTimeToConvert(s, dir)
    val clickers = ev.filter(col("event_type") === "click")
      .join(labels.select(col("user_id"), col("view_us")), Seq("user_id"))
      .filter(col("us") < col("view_us"))
      .select(col("user_id")).distinct()
      .withColumn("__pre_click", lit(1L))
    val withX = labels.join(clickers, Seq("user_id"), "left")
      .withColumn("x", coalesce(col("__pre_click"), lit(0L)))
    graft.operators.Survival.coxBinary(withX, "duration_us",
      "converted", "x", CoxIters, Some(LogRankBucketUs))
  }

  val qCoxSql: String = {
    val rounds = (1 to CoxIters).map { k =>
      val prev = if (k == 1) "cb0" else s"cb${k - 1}"
      s"""ck$k AS (SELECT beta,
         |    floor(exp(beta) * 1.0e12) / 1.0e12 AS eb FROM $prev),
         |cr$k AS (SELECT beta, d,
         |    eb * CAST(rn1 AS DOUBLE)
         |      / (CAST(rn - rn1 AS DOUBLE) + eb * CAST(rn1 AS DOUBLE))
         |      AS r
         |  FROM crisk CROSS JOIN ck$k),
         |ca$k AS (SELECT beta,
         |    sum(CAST(floor(CAST(d AS DOUBLE) * r * 1.0e9) AS BIGINT))
         |      AS su,
         |    sum(CAST(floor(CAST(d AS DOUBLE) * (r - r * r) * 1.0e9)
         |      AS BIGINT)) AS si
         |  FROM cr$k GROUP BY beta),
         |cb$k AS (SELECT CASE WHEN CAST(si AS DOUBLE) / 1.0e9 > 0.0
         |    THEN beta + ((CAST(t.d1 AS DOUBLE) * 1.0e9
         |        - CAST(su AS DOUBLE)) / 1.0e9)
         |      / (CAST(si AS DOUBLE) / 1.0e9) END AS beta
         |  FROM ca$k CROSS JOIN ctot t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |r AS (SELECT max(us) AS ref FROM e),
       |fv AS (SELECT user_id, min(us) AS view_us FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |cv AS (
       |  SELECT e.user_id, min(e.us) AS purchase_us
       |  FROM e JOIN fv ON e.user_id = fv.user_id
       |  WHERE e.event_type = 'purchase' AND e.us >= fv.view_us
       |  GROUP BY 1),
       |lab AS (
       |  SELECT fv.user_id, fv.view_us,
       |    coalesce(cv.purchase_us - fv.view_us,
       |      (SELECT ref FROM r) - fv.view_us) AS duration_us,
       |    CAST(cv.purchase_us IS NOT NULL AS INT) AS converted
       |  FROM fv LEFT JOIN cv ON fv.user_id = cv.user_id),
       |xs AS (SELECT DISTINCT e.user_id FROM e
       |       JOIN fv ON e.user_id = fv.user_id
       |       WHERE e.event_type = 'click' AND e.us < fv.view_us),
       |lx AS (SELECT lab.duration_us, lab.converted,
       |    CAST(xs.user_id IS NOT NULL AS BIGINT) AS x
       |  FROM lab LEFT JOIN xs ON lab.user_id = xs.user_id),
       |cbt AS (SELECT
       |    floor(duration_us / $LogRankBucketUs) * $LogRankBucketUs AS t,
       |    converted, x FROM lx),
       |cper AS (SELECT t, count(*) AS n,
       |    count(*) FILTER (x = 1) AS n1,
       |    count(*) FILTER (converted = 1) AS d,
       |    count(*) FILTER (converted = 1 AND x = 1) AS d1
       |  FROM cbt GROUP BY 1),
       |crisk AS (SELECT t, d, rn, rn1 FROM (
       |    SELECT t, d,
       |      sum(n) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
       |        AS rn,
       |      sum(n1) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
       |        AS rn1
       |    FROM cper) WHERE d > 0),
       |ctot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS d,
       |    CAST(sum(d1) AS BIGINT) AS d1 FROM cper),
       |cb0 AS (SELECT 0.0 AS beta),
       |$rounds,
       |ckf AS (SELECT beta, floor(exp(beta) * 1.0e12) / 1.0e12 AS eb
       |        FROM cb$CoxIters),
       |crf AS (SELECT beta, d,
       |    eb * CAST(rn1 AS DOUBLE)
       |      / (CAST(rn - rn1 AS DOUBLE) + eb * CAST(rn1 AS DOUBLE))
       |      AS r
       |  FROM crisk CROSS JOIN ckf),
       |caf AS (SELECT beta,
       |    sum(CAST(floor(CAST(d AS DOUBLE) * r * 1.0e9) AS BIGINT))
       |      AS su,
       |    sum(CAST(floor(CAST(d AS DOUBLE) * (r - r * r) * 1.0e9)
       |      AS BIGINT)) AS si
       |  FROM crf GROUP BY beta)
       |SELECT t.n, t.d, t.d1, beta,
       |  floor(exp(beta) * 1.0e12) / 1.0e12 AS hr,
       |  CASE WHEN CAST(si AS DOUBLE) / 1.0e9 > 0.0
       |    THEN 1.0 / sqrt(CAST(si AS DOUBLE) / 1.0e9) END AS se
       |FROM caf CROSS JOIN ctot t""".stripMargin
  }

  // --------------------------------------------------------- km_state
  // The STATE-PATH Kaplan-Meier: the cohort folds into two per-time
  // counter batches, the merged state feeds kaplanMeierFromCounts, and
  // the driver gate pins the result equal to the row-path curve (the
  // q_ridge_state precedent — fit-from-state ≡ fit-from-rows). The
  // oracle is the row-path SQL verbatim: bit-equality IS the claim.
  def qKmState(s: SparkSession, dir: String): DataFrame = {
    val labels = qTimeToConvert(s, dir)
      .select(col("user_id"), col("duration_us"), col("converted"))
    val half1 = labels.filter(col("user_id") % 2 === 0)
    val half2 = labels.filter(col("user_id") % 2 =!= 0)
    def fold(df: DataFrame) = graft.operators.Survival.perTimeCounts(
      df, "duration_us", "converted", Some(LogRankBucketUs))
    val state = graft.operators.Survival.mergePerTimeCounts(
      fold(half1).union(fold(half2)))
    graft.operators.Survival.kaplanMeierFromCounts(state)
  }

  val qKaplanMeierSql: String =
    s"""$kmCtes
       |SELECT t, n_at_risk, d, censored AS censored_at_t,
       |  CASE WHEN zeroed = 1 THEN NULL
       |       ELSE CAST(logs AS DOUBLE) END AS log_s,
       |  CASE WHEN zeroed = 1 THEN 0.0
       |       ELSE CAST(CAST(exp(CAST(logs AS DOUBLE)) AS DECIMAL(20,12))
       |         AS DOUBLE) END AS s
       |FROM acc""".stripMargin

  // ------------------------------------------------------------------ rmst
  // Restricted mean survival time to a 10-day horizon over the same KM
  // curve: step-function integral, each rectangle rounded through
  // DECIMAL(30,6) so the sum is order-independent.
  private val RmstHorizonUs: Double = 10.0 * 24 * 3600 * 1000000L

  def qRmst(s: SparkSession, dir: String): DataFrame =
    graft.operators.Survival.rmst(qKaplanMeier(s, dir), RmstHorizonUs)

  val qRmstSql: String =
    s"""$kmCtes,
       |km AS (SELECT t, n_at_risk, d,
       |  CASE WHEN zeroed = 1 THEN 0.0
       |       ELSE CAST(CAST(exp(CAST(logs AS DOUBLE)) AS DECIMAL(20,12))
       |         AS DOUBLE) END AS s
       |  FROM acc),
       |steps AS (SELECT t, s,
       |  coalesce(lead(t) OVER (ORDER BY t ASC), $RmstHorizonUs) AS nxt,
       |  row_number() OVER (ORDER BY t ASC) AS rn
       |  FROM km),
       |areas AS (SELECT
       |  CAST(greatest(least(nxt, $RmstHorizonUs), t) - t AS DOUBLE) * s
       |    + CASE WHEN rn = 1
       |        THEN CAST(least(t, $RmstHorizonUs) AS DOUBLE) * 1.0
       |        ELSE 0.0 END AS a
       |  FROM steps)
       |SELECT CAST($RmstHorizonUs AS DOUBLE) AS horizon,
       |  CAST(sum(CAST(a AS DECIMAL(30,6))) AS DOUBLE) AS rmst
       |FROM areas""".stripMargin

  // --------------------------------------------------------------- streaks
  // Gaps-and-islands: per user, longest run of consecutive active DAYS,
  // streak count, total active days and the earliest longest-streak
  // start — pure integer date arithmetic (island id = day − row_number)
  // over the distinct (user, day) grid, so the window sorts the grid,
  // never raw events.
  def qStreaks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Streaks.dailyStreaks(
      t(s, dir, "events"), "user_id", "ts")

  val qStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |isl AS (SELECT user_id, d,
      |  d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
      |    AS INT) AS island
      |  FROM days),
      |runs AS (SELECT user_id, island,
      |  CAST(count(*) AS BIGINT) AS len, min(d) AS start
      |  FROM isl GROUP BY 1, 2),
      |wm AS (SELECT *, max(len) OVER (PARTITION BY user_id) AS maxlen
      |  FROM runs)
      |SELECT user_id,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(sum(len) AS BIGINT) AS active_days,
      |  min(CASE WHEN len = maxlen THEN start END) AS longest_start
      |FROM wm GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_kaplan_meier", qKaplanMeier, qKaplanMeierSql),
    Query("q_km_state", qKmState, qKaplanMeierSql),
    Query("q_cox", qCox, qCoxSql),
    Query("q_cum_incidence", qCumIncidence, qCumIncidenceSql),
    Query("q_rmst", qRmst, qRmstSql),
    Query("q_cum_hazard", qCumHazard, qCumHazardSql),
    Query("q_streaks", qStreaks, qStreaksSql),
    Query("q_scd2_history", qScd2History, qScd2HistorySql),
    Query("q_scd2_apply", qScd2Apply, qScd2ApplySql),
    Query("q_retention", qRetention, qRetentionSql),
    Query("q_decay", qDecay, qDecaySql),
    Query("q_time_to_convert", qTimeToConvert, qTimeToConvertSql),
    Query("q_km_risk", qKmRisk, qKmRiskSql),
    Query("q_logrank", qLogRank, qLogRankSql),
    Query("q_next_event", qNextEvent, qNextEventSql),
    Query("q_cohort_ltv", qCohortLtv, qCohortLtvSql),
    Query("q_churn_label", qChurnLabel, qChurnLabelSql),
    Query("q_rfm", qRfm, qRfmSql),
  )
}
