package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.ConnectedComponents
import graft.operators.{AsOfJoin, FuzzyJoin, IncrementalAgg, Intervals, Resample, Scd2}

/** Round-8 query group: fuzzy entity matching (edit-distance joins),
  * incremental aggregation state, temporal joins against SCD2 history.
  */
object QueriesMatch {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The fuzzy-family queries run on customers with c_custkey below this
    * cap (a no-op at sf0.01's 1500 rows; bounds sf0.1 at 2000).
    * Fixed-format keys over a 10-digit alphabet are q-gram blocking's
    * documented WORST case — the gram vocabulary is ~100 strings, so df
    * ranking cannot isolate rare grams and most pairs are genuine
    * distance-1/2 candidates (they really are within a few edits of each
    * other). Production linkage on such keys blocks on a domain key
    * first (the operator composes with any pre-filter); the oracle's job
    * here is CORRECTNESS of the screen, which the cap preserves. */
  private val FuzzyKeyCap = 2000

  // ------------------------------------------------------- fuzzy pairs
  // All customer-name pairs within one edit. The oracle is the NAIVE
  // quadratic join (length filter + full levenshtein), so the hash
  // compare proves the q-gram prefix screen lossless on real data.
  def qFuzzyPairs(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.editDistancePairs(
      t(s, dir, "customer").filter(col("c_custkey") < FuzzyKeyCap)
        .select(col("c_custkey").as("id"), col("c_name").as("s")),
      "id", "s", maxDist = 1)

  val qFuzzyPairsSql: String =
    s"""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
       |FROM customer a JOIN customer b
       |  ON a.c_custkey < b.c_custkey
       | AND abs(length(a.c_name) - length(b.c_name)) <= 1
       |WHERE a.c_custkey < $FuzzyKeyCap AND b.c_custkey < $FuzzyKeyCap
       |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  // ----------------------------------------------------- fuzzy deletion
  // The same pair contract through the OTHER exact candidate scheme:
  // FastSS deletion-neighborhood equi-join (FuzzyJoin.deletionPairs) —
  // the path whose buckets stay bounded on low-entropy key corpora
  // where prefix-gram screens degenerate (ScaleCheck finding, NOTES).
  // Shares q_fuzzy_pairs' naive-quadratic oracle, so the hash compare
  // proves BOTH screens lossless on the same data.
  def qFuzzyDel(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.deletionPairs(
      t(s, dir, "customer").filter(col("c_custkey") < FuzzyKeyCap)
        .select(col("c_custkey").as("id"), col("c_name").as("s")),
      "id", "s", maxDist = 1)

  // ------------------------------------------------------- fuzzy match
  // Record linkage: a synthesized "dirty" feed (every even custkey's
  // name loses its 10th character) matched back against the master
  // customer table — each dirty row resolves to its closest master row
  // within 2 edits, ties to the smallest master key. The oracle replays
  // the naive scoring with a row_number argmin.
  def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
      .filter(col("c_custkey") < FuzzyKeyCap)
    val master = customer
      .select(col("c_custkey").as("mid"), col("c_name").as("s"))
    val dirty = customer.select(col("c_custkey").as("qid"),
      when(col("c_custkey") % 2 === 0,
        concat(substring(col("c_name"), 1, 9), expr("substring(c_name, 11)")))
        .otherwise(col("c_name")).as("s"))
    // deletion-neighborhood screen (hot-gram-proof; see q_fuzzy_del) —
    // same contract as bestMatch, spec-pinned equal
    FuzzyJoin.bestMatchDeletion(dirty, master, "qid", "mid", "s",
        maxDist = 2)
      .select(col("id_l").as("query_id"), col("id_r").as("match_id"),
        col("dist"))
  }

  val qFuzzyMatchSql: String =
    s"""WITH dirty AS (
       |  SELECT c_custkey AS query_id,
       |    CASE WHEN c_custkey % 2 = 0
       |         THEN substring(c_name, 1, 9) || substring(c_name, 11)
       |         ELSE c_name END AS s
       |  FROM customer WHERE c_custkey < $FuzzyKeyCap),
       |scored AS (
       |  SELECT d.query_id, m.c_custkey AS match_id,
       |    levenshtein(d.s, m.c_name) AS dist
       |  FROM dirty d JOIN customer m
       |    ON abs(length(d.s) - length(m.c_name)) <= 2
       |  WHERE m.c_custkey < $FuzzyKeyCap
       |    AND levenshtein(d.s, m.c_name) <= 2)
      |SELECT query_id, match_id, CAST(dist AS BIGINT) AS dist
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY query_id ORDER BY dist, match_id) AS rn
      |      FROM scored)
      |WHERE rn = 1""".stripMargin

  // --------------------------------------------------- incremental agg
  // The events log arrives as 3 ingests (split by event_id mod); each
  // batch folds into per-type partial state and the merged state's
  // finals must equal the direct one-shot aggregation (the oracle) —
  // the incremental-materialized-view contract. Decimal partials make
  // the fold order-independent.
  def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val states = (0 to 2).map(i =>
      IncrementalAgg.state(ev.filter(pmod(col("event_id"), lit(3)) === i),
        Seq("event_type"), "value"))
    IncrementalAgg.finalize(
      IncrementalAgg.merge(states, Seq("event_type")), Seq("event_type"))
  }

  val qIncrAggSql: String =
    """SELECT event_type, count(*) AS n_rows, count(value) AS n_vals,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
      |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
      |    AS avg_value
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------------ jaro rescore
  // The full record-linkage pipeline: the dirty feed (q_fuzzy_match's
  // synthesis) blocks against the master via the edit-distance-2 ball
  // (FuzzyJoin candidates — lossless for the block), then Jaro-Winkler
  // RANKS the candidates (transposition-tolerant, prefix-weighted) and
  // the best-scoring master wins (ties to the smaller key). jaro_winkler
  // is the native codegen expression, bit-compatible with DuckDB's
  // jaro_winkler_similarity, so the oracle compares raw doubles.
  def qJaroRescore(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
      .filter(col("c_custkey") < FuzzyKeyCap)
    val master = customer
      .select(col("c_custkey").as("mid"), col("c_name").as("ms"))
    val dirty = customer.select(col("c_custkey").as("qid"),
      when(col("c_custkey") % 2 === 0,
        concat(substring(col("c_name"), 1, 9), expr("substring(c_name, 11)")))
        .otherwise(col("c_name")).as("qs"))
    val candidates = FuzzyJoin.deletionJoin(
        dirty.withColumnRenamed("qs", "s"),
        master.withColumnRenamed("ms", "s"),
        "qid", "mid", "s", maxDist = 2)
      .select(col("id_l").as("qid"), col("id_r").as("mid"))
      .join(dirty, Seq("qid")).join(master, Seq("mid"))
      .withColumn("sim",
        graft.functions.JaroWinklerExpr.jaro_winkler(col("qs"), col("ms")))
    // bounded per-query argmax over (sim DESC, mid ASC): max of
    // (sim, -mid) structs — no window over the candidate fan-out
    candidates.groupBy(col("qid"))
      .agg(max(struct(col("sim"), (-col("mid")).as("neg"))).as("best"))
      .select(col("qid").as("query_id"),
        (-col("best")("neg")).as("match_id"),
        col("best")("sim").as("sim"))
  }

  val qJaroRescoreSql: String =
    s"""WITH dirty AS (
       |  SELECT c_custkey AS query_id,
       |    CASE WHEN c_custkey % 2 = 0
       |         THEN substring(c_name, 1, 9) || substring(c_name, 11)
       |         ELSE c_name END AS qs
       |  FROM customer WHERE c_custkey < $FuzzyKeyCap),
       |cand AS (
       |  SELECT d.query_id, m.c_custkey AS match_id,
       |    jaro_winkler_similarity(d.qs, m.c_name) AS sim
       |  FROM dirty d JOIN customer m
       |    ON abs(length(d.qs) - length(m.c_name)) <= 2
       |  WHERE m.c_custkey < $FuzzyKeyCap
       |    AND levenshtein(d.qs, m.c_name) <= 2)
      |SELECT query_id, match_id, sim
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
      |      FROM cand)
      |WHERE rn = 1""".stripMargin

  // ----------------------------------------------------- entity groups
  // Entity resolution end to end: distance-1 name pairs -> transitive
  // closure (large-star/small-star CC) -> every record labeled with its
  // entity and whether it is the canonical (minimum-key) member.
  // Singletons label themselves. The oracle closes the same pair set
  // with a recursive CTE — an independent BFS algorithm.
  def qEntityGroups(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "customer")
      .filter(col("c_custkey") < FuzzyKeyCap)
      .select(col("c_custkey").as("id"))
    val pairs = qFuzzyDel(s, dir) // deletion screen; same verified pairs
    val labels = ConnectedComponents.labels(pairs, "id_a", "id_b")
      .select(col("id"), col("cluster_id"))
    ids.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("entity_id"))
      .withColumn("is_canonical", col("id") === col("entity_id"))
  }

  val qEntityGroupsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |$qFuzzyPairsSql
       |),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
       |labels AS (SELECT node AS id, MIN(r) AS entity_id FROM reach
       |           GROUP BY node)
       |SELECT c.c_custkey AS id,
       |  COALESCE(l.entity_id, c.c_custkey) AS entity_id,
       |  (c.c_custkey = COALESCE(l.entity_id, c.c_custkey)) AS is_canonical
       |FROM customer c LEFT JOIN labels l ON l.id = c.c_custkey
       |WHERE c.c_custkey < $FuzzyKeyCap""".stripMargin

  // ---------------------------------------------------------- resample
  // Event log -> dense daily panel per user: per-day count and decimal
  // value sum, absent days as (n=0, NULL, forward-filled last sum). The
  // Spark side forward-fills with last(ignoreNulls); the oracle uses
  // the portable count-partition trick (grp = running non-null count,
  // fill = max per (key, grp)) — different formulations agreeing.
  def qResample(s: SparkSession, dir: String): DataFrame =
    Resample.dailyPanel(t(s, dir, "events"), "user_id", "ts",
      sum(col("value").cast("decimal(18,2)")).cast("double"))

  val qResampleSql: String =
    """WITH obs AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS agg_value
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs
      |  GROUP BY user_id),
      |cal AS (
      |  SELECT user_id, CAST(unnest(generate_series(
      |    CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |dense AS (
      |  SELECT c.user_id, c.day, COALESCE(o.n, 0) AS n, o.agg_value
      |  FROM cal c LEFT JOIN obs o
      |    ON o.user_id = c.user_id AND o.day = c.day),
      |g AS (SELECT *, count(agg_value) OVER
      |        (PARTITION BY user_id ORDER BY day) AS grp
      |      FROM dense)
      |SELECT user_id, day, CAST(n AS BIGINT) AS n, agg_value,
      |  max(agg_value) OVER (PARTITION BY user_id, grp) AS ffill_value
      |FROM g""".stripMargin

  // ---------------------------------------------------- scd2 temporal join
  // Point-in-time join against SCD2 history: every 7th event resolves to
  // the history version valid AT its timestamp. The Spark side composes
  // Scd2.fromChangeLog with AsOfJoin (as-of on valid_from == interval
  // containment for gap-free history); the oracle rebuilds the history
  // relationally and uses DuckDB's NATIVE ASOF JOIN — an independent
  // algorithm, so agreement is strong evidence of correct temporal
  // semantics.
  def qScd2Join(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hist = Scd2.fromChangeLog(ev,
        Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"))
      .select(col("user_id"), col("valid_from"),
        col("version"), col("event_type").as("state_type"))
    val probes = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOfJoin.asof(probes, hist, "user_id", "ts", "valid_from")
      .select(col("event_id"), col("user_id"), col("version"),
        col("state_type"))
  }

  val qScd2JoinSql: String =
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
      |  SELECT user_id, version, event_type AS state_type,
      |    min(ts_us) AS valid_from_us
      |  FROM vers GROUP BY user_id, version, event_type),
      |probes AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |  WHERE event_id % 7 = 0)
      |SELECT p.event_id, p.user_id, CAST(h.version AS BIGINT) AS version,
      |  h.state_type
      |FROM probes p ASOF LEFT JOIN hist h
      |  ON p.user_id = h.user_id AND p.ts_us >= h.valid_from_us""".stripMargin

  // ------------------------------------------------------- rolling 1h
  // Trailing one-hour per-user value sum — a RANGE frame over epoch
  // microseconds (integer range = engine-identical frame membership,
  // including same-timestamp peers; an interval frame would hinge on
  // each engine's timestamp comparison). Decimal sum, double render.
  def qRolling1h(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0L)
    t(s, dir, "events")
      .withColumn("rolling_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("rolling_sum"))
  }

  val qRolling1hSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
      |    (PARTITION BY user_id ORDER BY epoch_us(ts)
      |     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS rolling_sum
      |FROM events""".stripMargin

  // ----------------------------------------------------------- unpivot
  // Wide -> long reshaping (Spark's native unpivot/melt); the oracle is
  // the portable UNION ALL expansion. Metric values unify to DOUBLE.
  private val UnpivotMetrics = Seq("l_quantity", "l_extendedprice",
    "l_discount")

  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey") +: col("l_linenumber") +:
        UnpivotMetrics.map(m => col(m).cast("double").as(m)): _*)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        UnpivotMetrics.map(col).toArray,
        "metric", "value")

  val qUnpivotSql: String = UnpivotMetrics.map(m =>
    s"""SELECT l_orderkey, l_linenumber, '$m' AS metric,
       |  CAST($m AS DOUBLE) AS value FROM lineitem""".stripMargin)
    .mkString("\nUNION ALL\n")

  // ----------------------------------------------------- interval merge
  // Gaps-and-islands: per-part shipment coverage windows
  // [l_shipdate, l_shipdate + floor(l_quantity) days] (the testdata has
  // no receipt date — the delivery window is derived with integer-day
  // arithmetic, exact in both engines) collapsed to maximal disjoint
  // spans (Intervals.merge — one sort-shuffle + combiner-reduced island
  // agg). The oracle replays the same running-max-end island
  // construction; island ids are tie-permutation invariant (see operator
  // scaladoc), so the hash compare is stable across engine sort orders.
  private def shipIntervals(s: SparkSession, dir: String, key: String): DataFrame =
    t(s, dir, "lineitem").select(col(key), col("l_shipdate"),
      expr("timestampadd(DAY, CAST(floor(l_quantity) AS INT), l_shipdate)")
        .as("l_delivdate"))

  def qIntervalMerge(s: SparkSession, dir: String): DataFrame =
    Intervals.merge(shipIntervals(s, dir, "l_partkey"),
      "l_partkey", "l_shipdate", "l_delivdate")

  val qIntervalMergeSql: String =
    """WITH base AS (
      |  SELECT l_partkey AS k, l_shipdate AS s,
      |         l_shipdate + to_days(CAST(floor(l_quantity) AS INT)) AS e
      |  FROM lineitem),
      |flagged AS (
      |  SELECT k, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |         OR s > max(e) OVER (PARTITION BY k ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS nf
      |  FROM base),
      |isl AS (
      |  SELECT k, s, e,
      |    sum(nf) OVER (PARTITION BY k ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged)
      |SELECT k AS l_partkey, CAST(island AS BIGINT) AS island,
      |  min(s) AS span_start, max(e) AS span_end, count(*) AS n_rows
      |FROM isl GROUP BY k, island""".stripMargin

  // --------------------------------------------------- blocking quality
  // Grading a LOSSY blocker against ground truth (Blocking.quality —
  // Christen's reduction ratio / pairs completeness): a last-2-chars
  // suffix block + length band over the fuzzy-join customer sample,
  // scored against the true lev<=1 pair set (deletionPairs, proven
  // brute-force-equal by q_fuzzy_del's oracle). Suffix blocking LOSES
  // the true pairs whose edit sits in the last two characters, so
  // completeness lands strictly below 1e6 — the number that tells an
  // ER pipeline this blocker needs a second pass. All-integer outputs.
  def qBlockingQuality(s: SparkSession, dir: String): DataFrame = {
    val recs = t(s, dir, "customer").filter(col("c_custkey") < FuzzyKeyCap)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val keyed = recs
      .withColumn("sfx", substring(col("s"), -2, 2))
      .withColumn("len", length(col("s")))
    val cand = keyed.select(col("id").as("a"), col("sfx"), col("len").as("la"))
      .join(keyed.select(col("id").as("b"), col("sfx"),
        col("len").as("lb")), Seq("sfx"))
      .filter(col("a") < col("b") &&
        abs(col("la") - col("lb")) <= 1)
      .select(col("a"), col("b"))
    val truth = FuzzyJoin.deletionPairs(recs, "id", "s", maxDist = 1)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    graft.operators.Blocking.quality(recs, cand, truth, "a", "b")
  }

  val qBlockingQualitySql: String =
    s"""WITH r AS (
       |  SELECT c_custkey AS id, c_name AS s FROM customer
       |  WHERE c_custkey < $FuzzyKeyCap),
       |cand AS (
       |  SELECT DISTINCT a.id AS pa, b.id AS pb
       |  FROM r a JOIN r b
       |    ON substr(a.s, length(a.s) - 1, 2) =
       |       substr(b.s, length(b.s) - 1, 2)
       |   AND a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1),
       |tr AS (
       |  SELECT DISTINCT a.id AS pa, b.id AS pb
       |  FROM r a JOIN r b
       |    ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
       |  WHERE levenshtein(a.s, b.s) <= 1),
       |counts AS (
       |  SELECT (SELECT count(*) FROM r) AS n_records,
       |    (SELECT count(*) FROM cand) AS n_candidates,
       |    (SELECT count(*) FROM tr) AS n_truth,
       |    (SELECT count(*) FROM tr WHERE EXISTS (
       |       SELECT 1 FROM cand
       |       WHERE cand.pa = tr.pa AND cand.pb = tr.pb)) AS n_found)
       |SELECT n_records,
       |  CAST(n_records * (n_records - 1) // 2 AS BIGINT) AS n_all_pairs,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(n_found AS BIGINT) AS n_found,
       |  CASE WHEN n_records >= 2 THEN
       |    CAST((1000000::HUGEINT *
       |      (n_records * (n_records - 1) // 2 - n_candidates))
       |      // (n_records * (n_records - 1) // 2) AS BIGINT) END
       |    AS reduction_ppm,
       |  CASE WHEN n_truth > 0 THEN
       |    CAST((1000000 * n_found) // n_truth AS BIGINT) END
       |    AS completeness_ppm
       |FROM counts""".stripMargin

  // --------------------------------------------------- interval subtract
  // Coverage set algebra over the same interval model: per-part windows
  // covered by a non-returned shipment and NO return-flagged one
  // (Intervals.subtract — half-open sweep: boundary deltas collapsed
  // per distinct timestamp, running coverages + island numbering over
  // ONE sort). The oracle replays the identical sweep; collapsing ties
  // before the windows makes the construction tie-free, so the hash
  // compare is stable across engine sort orders.
  def qIntervalSubtract(s: SparkSession, dir: String): DataFrame = {
    val all = shipIntervals(s, dir, "l_partkey")
    val flag = t(s, dir, "lineitem").select(col("l_partkey"),
      col("l_shipdate"), col("l_returnflag"),
      expr("timestampadd(DAY, CAST(floor(l_quantity) AS INT), l_shipdate)")
        .as("l_delivdate"))
    Intervals.subtract(
      flag.filter(col("l_returnflag") =!= "R")
        .select(col("l_partkey"), col("l_shipdate"), col("l_delivdate")),
      flag.filter(col("l_returnflag") === "R")
        .select(col("l_partkey"), col("l_shipdate"), col("l_delivdate")),
      "l_partkey", "l_shipdate", "l_delivdate")
  }

  val qIntervalSubtractSql: String =
    """WITH base AS (
      |  SELECT l_partkey AS k, l_returnflag AS f, l_shipdate AS s,
      |         l_shipdate + to_days(CAST(floor(l_quantity) AS INT)) AS e
      |  FROM lineitem),
      |d0 AS (
      |  SELECT k, s AS ts, CASE WHEN f <> 'R' THEN 1 ELSE 0 END AS da,
      |         CASE WHEN f = 'R' THEN 1 ELSE 0 END AS db FROM base
      |  UNION ALL
      |  SELECT k, e, CASE WHEN f <> 'R' THEN -1 ELSE 0 END,
      |         CASE WHEN f = 'R' THEN -1 ELSE 0 END FROM base),
      |d AS (SELECT k, ts, sum(da) AS da, sum(db) AS db
      |      FROM d0 GROUP BY k, ts),
      |w AS (SELECT k, ts,
      |  sum(da) OVER (PARTITION BY k ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS cova,
      |  sum(db) OVER (PARTITION BY k ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS covb,
      |  lead(ts) OVER (PARTITION BY k ORDER BY ts) AS nxt
      |  FROM d),
      |f AS (SELECT k, ts, nxt, (cova > 0 AND covb = 0) AS act FROM w),
      |g AS (SELECT k, ts, nxt, act,
      |  CASE WHEN act AND NOT coalesce(
      |      lag(act) OVER (PARTITION BY k ORDER BY ts), FALSE)
      |    THEN 1 ELSE 0 END AS nf
      |  FROM f),
      |i AS (SELECT k, ts, nxt, act,
      |  sum(nf) OVER (PARTITION BY k ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM g)
      |SELECT k AS l_partkey, CAST(island AS BIGINT) AS island,
      |  min(ts) AS span_start, max(nxt) AS span_end
      |FROM i WHERE act GROUP BY k, island""".stripMargin

  // ----------------------------------------------------- max concurrency
  // Peak simultaneous shipments per supplier (sweep-line over the same
  // interval model as q_interval_merge). The running-sum peak is
  // tie-order invariant, so both engines agree without a unique sort key.
  def qConcurrency(s: SparkSession, dir: String): DataFrame =
    Intervals.maxConcurrency(shipIntervals(s, dir, "l_suppkey"),
      "l_suppkey", "l_shipdate", "l_delivdate")

  val qConcurrencySql: String =
    """WITH c AS (
      |  SELECT l_suppkey AS k, l_shipdate AS s,
      |         l_shipdate + to_days(CAST(floor(l_quantity) AS INT)) AS e
      |  FROM lineitem),
      |d AS (
      |  SELECT k, s AS ts, 1 AS delta FROM c
      |  UNION ALL SELECT k, e, -1 FROM c),
      |r AS (
      |  SELECT k, sum(delta) OVER (PARTITION BY k ORDER BY ts, delta DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM d)
      |SELECT k AS l_suppkey, CAST(max(running) AS BIGINT) AS max_concurrent
      |FROM r GROUP BY k""".stripMargin

  // --------------------------------------------------------- reconcile
  // Post-sync audit: source orders vs a drifted destination (keys
  // divisible by 97 missing, prices at keys divisible by 41 corrupted,
  // phantom +10M keys added). Reconcile.diff classifies per key from
  // map-side (key, md5 fingerprint) pairs — one slim full-outer join;
  // the oracle replays the classification with direct value comparison,
  // so the hash compare also proves the fingerprint faithful (no
  // collision/cast ambiguity on this data).
  def qReconcile(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val dst = orders.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 41 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    graft.operators.Reconcile.diff(orders, dst, Seq("o_orderkey"))
  }

  val qReconcileSql: String =
    """WITH dst AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 41 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT coalesce(s.o_orderkey, d.o_orderkey) AS o_orderkey,
      |  CASE WHEN s.o_orderkey IS NULL THEN 'missing_src'
      |       WHEN d.o_orderkey IS NULL THEN 'missing_dst'
      |       WHEN s.o_custkey IS NOT DISTINCT FROM d.o_custkey
      |        AND s.o_orderstatus IS NOT DISTINCT FROM d.o_orderstatus
      |        AND s.o_totalprice IS NOT DISTINCT FROM d.o_totalprice
      |        AND s.o_orderdate IS NOT DISTINCT FROM d.o_orderdate
      |        AND s.o_orderpriority IS NOT DISTINCT FROM d.o_orderpriority
      |       THEN 'ok' ELSE 'mismatch' END AS status
      |FROM orders s FULL OUTER JOIN dst d ON s.o_orderkey = d.o_orderkey""".stripMargin

  // --------------------------------------------------------- changelog
  // Snapshot-diff CDC over the same drift scenario as q_reconcile:
  // old = pristine orders, new = drifted copy. Reconcile.changelog emits
  // I rows (new-only keys) and U rows (changed keys) with the NEW
  // snapshot's values, D rows (dropped keys) with the OLD snapshot's —
  // the merge-ready change stream for a source with no CDC feed.
  def qChangelog(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val newSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 41 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    graft.operators.Reconcile.changelog(orders, newSnap, Seq("o_orderkey"))
  }

  val qChangelogSql: String =
    """WITH dst AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 41 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |cls AS (
      |  SELECT coalesce(s.o_orderkey, d.o_orderkey) AS k,
      |    CASE WHEN s.o_orderkey IS NULL THEN 'I'
      |         WHEN d.o_orderkey IS NULL THEN 'D'
      |         WHEN NOT (s.o_custkey IS NOT DISTINCT FROM d.o_custkey
      |               AND s.o_orderstatus IS NOT DISTINCT FROM d.o_orderstatus
      |               AND s.o_totalprice IS NOT DISTINCT FROM d.o_totalprice
      |               AND s.o_orderdate IS NOT DISTINCT FROM d.o_orderdate
      |               AND s.o_orderpriority IS NOT DISTINCT FROM d.o_orderpriority)
      |         THEN 'U' END AS op
      |  FROM orders s FULL OUTER JOIN dst d ON s.o_orderkey = d.o_orderkey)
      |SELECT c.k AS o_orderkey, c.op, x.o_custkey, x.o_orderstatus,
      |  x.o_totalprice, x.o_orderdate, x.o_orderpriority
      |FROM cls c JOIN dst x ON c.k = x.o_orderkey WHERE c.op IN ('I', 'U')
      |UNION ALL
      |SELECT c.k, c.op, x.o_custkey, x.o_orderstatus,
      |  x.o_totalprice, x.o_orderdate, x.o_orderpriority
      |FROM cls c JOIN orders x ON c.k = x.o_orderkey WHERE c.op = 'D'""".stripMargin

  // ------------------------------------------------------ forward as-of
  // Next-state-change lookup with an SLA window: each event joined to the
  // EARLIEST state row at-or-after it (forward as-of), discarded when the
  // match is more than 2 hours ahead (tolerance). The oracle is DuckDB's
  // native forward ASOF JOIN with the tolerance applied as a projection
  // guard — a different algorithm than the union-window carry, so
  // agreement is strong evidence of correct semantics.
  def qAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val left = events.select(col("event_id"), col("user_id"), col("ts"))
    val state = events.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("value").as("state_value"))
    AsOfJoin.asofDirectional(left, state, "user_id", "ts", "ts",
        forward = true, toleranceMicros = Some(2L * 3600L * 1000000L))
      .select(col("event_id"), col("user_id"), col("state_value"))
  }

  val qAsofFwdSql: String =
    """WITH state AS (
      |  SELECT user_id, ts, value AS state_value FROM events
      |  WHERE event_id % 10 = 0)
      |SELECT l.event_id, l.user_id,
      |  CASE WHEN r.ts IS NOT NULL
      |        AND epoch_us(r.ts) - epoch_us(l.ts) <= 7200000000
      |       THEN r.state_value END AS state_value
      |FROM events l ASOF LEFT JOIN state r
      |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_fuzzy_pairs", qFuzzyPairs, qFuzzyPairsSql),
    Query("q_fuzzy_del", qFuzzyDel, qFuzzyPairsSql),
    Query("q_fuzzy_match", qFuzzyMatch, qFuzzyMatchSql),
    Query("q_incr_agg", qIncrAgg, qIncrAggSql),
    Query("q_scd2_join", qScd2Join, qScd2JoinSql),
    Query("q_jaro_rescore", qJaroRescore, qJaroRescoreSql),
    Query("q_entity_groups", qEntityGroups, qEntityGroupsSql),
    Query("q_resample", qResample, qResampleSql),
    Query("q_rolling_1h", qRolling1h, qRolling1hSql),
    Query("q_unpivot", qUnpivot, qUnpivotSql),
    Query("q_interval_merge", qIntervalMerge, qIntervalMergeSql),
    Query("q_interval_subtract", qIntervalSubtract, qIntervalSubtractSql),
    Query("q_blocking_quality", qBlockingQuality, qBlockingQualitySql),
    Query("q_asof_fwd", qAsofFwd, qAsofFwdSql),
    Query("q_concurrency", qConcurrency, qConcurrencySql),
    Query("q_reconcile", qReconcile, qReconcileSql),
    Query("q_changelog", qChangelog, qChangelogSql),
  )
}
