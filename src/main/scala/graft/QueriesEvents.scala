package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Skew
import graft.streaming.{DedupStream, StreamJoin}

/** Event-pipeline query group, SESSIONS / WINDOWS / STREAMS family:
  * sessionization (batch and session_window), per-session statistics,
  * temporal as-of alignment, nearest-event matching, burstiness,
  * skew-safe salted aggregation/join, semi-structured JSON extraction,
  * distinct counting, and the Structured Streaming dedup/join twins.
  * (Lifecycle labels live in [[QueriesLifecycle]]; funnel/attribution
  * analytics in [[QueriesFunnel]].)
  */
object QueriesEvents {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------- sessionize
  // Gap-based sessionization (30-min inactivity): lag + cumulative sum of
  // session-start markers — the batch form of stateful stream session
  // windows. Epoch-microsecond arithmetic keeps interval semantics
  // engine-identical.
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      // Raw ts is excluded from the output: the source carries sub-us
      // precision that the engines canonicalize differently (us vs ns);
      // event_id already identifies the row.
      .select(col("event_id"), col("user_id"), col("session_idx"))
  }

  val qSessionizeSql: String =
    """SELECT event_id, user_id,
      |  CAST(sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |FROM (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |                   OR epoch_us(ts) - prev_us > 1800000000 THEN 1
      |            ELSE 0 END AS new_session
      |  FROM (SELECT event_id, user_id, ts,
      |          lag(epoch_us(ts), 1) OVER
      |            (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |        FROM events))""".stripMargin

  // ------------------------------------------------------- json extract
  // Semi-structured props column: path extraction + typed cast.
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").cast("long").as("k_num"),
      get_json_object(col("props"), "$.missing").as("absent"))

  val qJsonExtractSql: String =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      |  json_extract_string(props, '$.missing') AS absent
      |FROM events""".stripMargin

  // --------------------------------------------------------- salted agg
  // Two-phase salted aggregation == direct aggregation (the oracle is the
  // direct form — proving the skew-safe plan is semantics-preserving).
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSumCount(t(s, dir, "events"), Seq("event_type"), "value",
      saltSeed = col("event_id"), buckets = 16)
      // final render: decimal agg -> double (driver-compare parity)
      .withColumn("sum_value", col("sum_value").cast("double"))

  val qSaltedAggSql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // --------------------------------------------------------- salted join
  // Skew-safe equi-join == plain join (the oracle is the plain form):
  // fact keys salted into 8 buckets, dim replicated once per bucket, so
  // no reducer receives more than ~1/8 of a hot key. The manual fallback
  // for plans AQE skew splitting does not cover.
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem").select(
      col("l_orderkey").as("orderkey"), col("l_linenumber"),
      col("l_extendedprice"))
    val dim = t(s, dir, "orders").select(
      col("o_orderkey").as("orderkey"), col("o_totalprice"))
    Skew.saltedJoin(fact, dim, Seq("orderkey"),
        saltSeed = col("orderkey") + col("l_linenumber"), buckets = 8)
      .select(col("orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("o_totalprice"))
  }

  val qSaltedJoinSql: String =
    """SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice,
      |  o_totalprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ------------------------------------------------------------- as-of
  // Point-in-time join of each event to its user's latest state update
  // (state = every 10th event). The oracle uses DuckDB's native ASOF JOIN
  // — a different algorithm than the union-window formulation, so
  // agreement is strong evidence of correct semantics.
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val left = events.select(col("event_id"), col("user_id"), col("ts"))
    val state = events.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("value").as("state_value"))
    graft.operators.AsOfJoin.asof(left, state, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("state_value"))
  }

  val qAsofJoinSql: String =
    """WITH state AS (
      |  SELECT user_id, ts, value AS state_value FROM events
      |  WHERE event_id % 10 = 0)
      |SELECT l.event_id, l.user_id, r.state_value
      |FROM events l ASOF LEFT JOIN state r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  // Stateful streaming queries pin their shuffle-partition count for the
  // query's lifetime: state-store instances (and per-micro-batch commit
  // overhead) scale with partition count, and a batch-session default
  // sized for table scans (32) measured ~2.3x the wall time of a count
  // sized to the stream's actual volume. Production tuning rule:
  // partitions ~ stream rate, not cluster width. Restored afterwards —
  // queries run sequentially in the driver harness.
  private def withStreamPartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  // ------------------------------------------------------- stream dedup
  // The STREAMING dedup path (DedupStream.dedupForever) run end-to-end as
  // a bounded AvailableNow job: documents plus a planted duplicate batch
  // are staged as multiple files, streamed one file per micro-batch, and
  // deduplicated by content fingerprint with cross-batch state. The
  // output is (fp, n_emitted): n_emitted must be exactly 1 for every
  // fingerprint — the planted duplicates arrive in a LATER micro-batch
  // than their originals, so only real cross-batch dedup state satisfies
  // the oracle (a stateless per-batch dropDuplicates would emit 2).
  // staged multi-file input per scale dir — setup, not the operator
  // under test; cached so repeated bench runs time the streaming job only
  private val stagedDedupInput =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val staged = stagedDedupInput.computeIfAbsent(dir, { d =>
      val docs = Tables.load(s, d, "documents", parallelize = false)
      val target = tmp.resolve("in").toString
      // planted duplicates get doc_ids far above the originals, so the
      // range split puts them in their own file(s) -> their own batch(es)
      val dupes = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
      docs.union(dupes).repartitionByRange(3, col("doc_id"))
        .write.parquet(target)
      target
    })
    val docs = Tables.load(s, dir, "documents", parallelize = false)
    val src = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
    withStreamPartitions(s, 8) {
      val query = DedupStream.dedupForever(src, "text")
        .select(col("fp"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      query.awaitTermination()
    }
    s.read.parquet(out).groupBy(col("fp")).agg(count(lit(1)).as("n_emitted"))
  }

  val qStreamDedupSql: String =
    """SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |  CAST(1 AS BIGINT) AS n_emitted
      |FROM documents""".stripMargin

  // -------------------------------------------------------- stream join
  // Stream-stream event-time interval join (click -> purchase attribution
  // within 4 hours) run end-to-end: both sides stream from the same
  // staged multi-file source one file per micro-batch, so pairs
  // straddling micro-batches exist only if watermarked join state is
  // retained correctly; each pair must be emitted exactly once. The
  // oracle is the plain batch interval join.
  private val AttributionHours = 4

  private val stagedJoinInput =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_join")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val staged = stagedJoinInput.computeIfAbsent(dir, { d =>
      val target = tmp.resolve("in").toString
      // hash-split on event_id — event_id is almost perfectly
      // time-correlated, so a range split would yield time-contiguous
      // files and nearly every pair would complete within one
      // micro-batch; hashing the raw id scatters adjacent events across
      // all three files, making retained join state load-bearing for
      // most pairs. (Hashing a pre-computed mod-3 value would feed only
      // 3 distinct values into the partitioner and can collide them into
      // fewer than 3 partitions.)
      Tables.load(s, d, "events", parallelize = false)
        .repartition(3, col("event_id"))
        .write.parquet(target)
      target
    })
    val schema = Tables.load(s, dir, "events", parallelize = false).schema
    def src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    // watermark delay covers the corpus's full disorder (batches are
    // event_id-ordered, not time-ordered) so nothing is dropped and the
    // result equals the batch join exactly
    val joined = StreamJoin.attributionJoin(clicks, purchases,
        "user_id", "p_user", "click_ts", "purchase_ts",
        s"$AttributionHours hours", watermarkDelay = "40 days")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    withStreamPartitions(s, 8) {
      val q = joined.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  // the window bound is compared in epoch MICROSECONDS on both engines:
  // Spark's ts is micro-truncated (Tables.load) while DuckDB reads the
  // raw ns values, so a raw-timestamp comparison could disagree within
  // 1 us of the bound; epoch_us makes both sides integer-exact, and the
  // constant derives from the same AttributionHours as the Spark path
  val qStreamJoinSql: String =
    s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
       |FROM events c JOIN events p
       |  ON c.user_id = p.user_id
       | AND c.event_type = 'click' AND p.event_type = 'purchase'
       | AND epoch_us(p.ts) >= epoch_us(c.ts)
       | AND epoch_us(p.ts) <= epoch_us(c.ts) +
       |     ${AttributionHours}::BIGINT * 3600000000""".stripMargin

  // ------------------------------------------------------ distinct count
  def qDistinctUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val qDistinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------------ session_window
  // Spark's NATIVE session-window operator (the streaming-capable path:
  // the identical groupBy(session_window(...)) runs under a watermark in
  // Structured Streaming with state-store merging — proven in
  // SessionWindowStreamSpec). The oracle is an independent algorithm:
  // DuckDB gap-islands (lag + running break sum). Session semantics:
  // an event extends the session while it falls strictly inside
  // [start, last_event + gap); end = last_event + gap. Boundaries exit
  // as epoch micros (engine-neutral integers).
  private val SessGapUs = 3L * 86400L * 1000000L

  def qSessionNative(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "3 days"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))

  val qSessionNativeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, ts,
       |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |           IS NULL
       |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY
       |           user_id ORDER BY ts)) >= $SessGapUs
       |    THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |g AS (
       |  SELECT user_id, ts,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM e)
       |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
       |  max(epoch_us(ts)) + $SessGapUs AS session_end_us,
       |  count(*) AS n_events
       |FROM g GROUP BY user_id, sid""".stripMargin

  // ------------------------------------------------------ session stats
  // Per-session aggregates over 1-day-gap sessions: length, duration,
  // conversion flag — the composite downstream of sessionization that
  // funnels/engagement dashboards actually consume.
  def qSessionStats(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 86400000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("converted"))
  }

  val qSessionStatsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) IS NULL
      |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY
      |        user_id ORDER BY ts, event_id) > 86400000000
      |    THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |g AS (
      |  SELECT user_id, event_type, t,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM e)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  max(t) - min(t) AS duration_us,
      |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS INT) AS converted
      |FROM g GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- nearest event
  // Nearest-in-time join: each view is matched to the closest purchase
  // by the same user in EITHER direction (ties -> the earlier one) —
  // the attribution variant neither a backward nor a forward as-of
  // covers alone. Composition: both asofDirectional passes (each one
  // union+window sort-shuffle), then a map-side argmin of the two
  // candidates. The oracle is the naive per-user quadratic join with an
  // explicit (|delta|, ts) argmin window — an independent algorithm.
  def qNearestEvent(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    // dedup to one purchase per (user, ts): as-of requires unique right
    // timestamps per key (max keeps the choice deterministic)
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .withColumn("p_us", unix_micros(col("ts")))
    val back = graft.operators.AsOfJoin.asofDirectional(
        views, purch, "user_id", "ts", "ts", forward = false)
      .withColumnRenamed("p_us", "prev_us")
      .withColumnRenamed("p_value", "prev_value")
    val fwd = graft.operators.AsOfJoin.asofDirectional(
        views, purch, "user_id", "ts", "ts", forward = true)
      .select(col("event_id"), col("p_us").as("next_us"),
        col("p_value").as("next_value"))
    val j = back.join(fwd, Seq("event_id"))
    val dPrev = unix_micros(col("ts")) - col("prev_us")
    val dNext = col("next_us") - unix_micros(col("ts"))
    val usePrev = col("prev_us").isNotNull &&
      (col("next_us").isNull || dPrev <= dNext)
    j.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("view_us"),
      when(usePrev, col("prev_us")).otherwise(col("next_us")).as("match_us"),
      when(usePrev, col("prev_value")).otherwise(col("next_value"))
        .as("match_value"),
      when(col("prev_us").isNull && col("next_us").isNull,
          lit(null).cast("string"))
        .when(usePrev, lit("before")).otherwise(lit("after"))
        .as("direction"))
  }

  val qNearestEventSql: String =
    """WITH v AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, ts, max(value) AS p_value FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (
      |  SELECT v.event_id, v.user_id, epoch_us(v.ts) AS view_us,
      |    epoch_us(p.ts) AS match_us, p.p_value AS match_value,
      |    CASE WHEN p.ts <= v.ts THEN 'before' ELSE 'after' END
      |      AS direction,
      |    row_number() OVER (PARTITION BY v.event_id ORDER BY
      |      abs(epoch_us(v.ts) - epoch_us(p.ts)), p.ts) AS rn
      |  FROM v JOIN p ON p.user_id = v.user_id)
      |SELECT event_id, user_id, view_us, match_us, match_value, direction
      |FROM c WHERE rn = 1
      |UNION ALL
      |SELECT v.event_id, v.user_id, epoch_us(v.ts),
      |  NULL, NULL, NULL
      |FROM v
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p WHERE p.user_id = v.user_id)""".stripMargin

  // ----------------------------------------------------------- burstiness
  // Per-user burstiness of activity: the Fano factor (variance/mean) of
  // inter-event gaps — bots and schedulers sit near 0 (regular), human
  // sessions are bursty (>> mean). Gaps in exact integer micros from one
  // window sort; moment sums in DECIMAL (d² needs 38 digits), then the
  // textbook ratio in fixed-shape doubles — the Stats.corrByKey
  // discipline applied to a per-user dispersion statistic.
  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val deltas = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("d", col("us") - lag(col("us"), 1).over(w))
      .filter(col("d").isNotNull)
    val agg = deltas.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("d").cast("decimal(20,0)")).as("sd"),
      sum((col("d").cast("decimal(19,0)") * col("d").cast("decimal(19,0)")))
        .as("sd2"))
    val n = col("n").cast("double")
    val mean = col("sd").cast("double") / n
    val variance = col("sd2").cast("double") / n - mean * mean
    agg.select(col("user_id"), col("n"),
      mean.as("mean_gap_us"),
      when(mean > 0.0, variance / mean).otherwise(lit(0.0)).as("fano"))
  }

  val qBurstinessSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |d AS (
      |  SELECT user_id,
      |    us - lag(us) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS d
      |  FROM e),
      |g AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST(d AS DECIMAL(20,0))) AS sd,
      |    sum(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sd2
      |  FROM d WHERE d IS NOT NULL GROUP BY 1)
      |SELECT user_id, n,
      |  CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_us,
      |  CASE WHEN CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
      |    THEN (CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)
      |          - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
      |            * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)))
      |         / (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
      |    ELSE 0.0 END AS fano
      |FROM g""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_sessionize", qSessionize, qSessionizeSql),
    Query("q_json_extract", qJsonExtract, qJsonExtractSql),
    Query("q_salted_agg", qSaltedAgg, qSaltedAggSql),
    Query("q_salted_join", qSaltedJoin, qSaltedJoinSql),
    Query("q_asof_join", qAsofJoin, qAsofJoinSql),
    Query("q_stream_dedup", qStreamDedup, qStreamDedupSql),
    Query("q_stream_join", qStreamJoin, qStreamJoinSql),
    Query("q_distinct_users", qDistinctUsers, qDistinctUsersSql),
    Query("q_session_native", qSessionNative, qSessionNativeSql),
    Query("q_session_stats", qSessionStats, qSessionStatsSql),
    Query("q_nearest_event", qNearestEvent, qNearestEventSql),
    Query("q_burstiness", qBurstiness, qBurstinessSql),
  )
}
