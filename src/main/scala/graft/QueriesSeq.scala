package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hampel, SeqMine, Stats}

/** Round-12 query group: ordered-series operators — contiguous
  * sequence-pattern mining (the order-aware sibling of q_fim), Hampel
  * rolling-median outlier flags (the robust sibling of q_anomaly), and
  * the Theil inequality index (the decomposable sibling of q_gini). */
object QueriesSeq {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------- seq_mine
  // Which 3-step event-type paths recur, for how many distinct users?
  // Ordering is (ts, event_id) within each user (qTransitions' rule).
  def qSeqMine(s: SparkSession, dir: String): DataFrame =
    SeqMine.topSequences(t(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type", len = 3, minUsers = 2L)

  val qSeqMineSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |              event_type
      |            FROM events),
      |st AS (SELECT user_id, event_type AS s1,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY us, event_id) AS s2,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |           ORDER BY us, event_id) AS s3
      |       FROM ev)
      |SELECT s1, s2, s3, count(*) AS occurrences,
      |  count(DISTINCT user_id) AS support_users
      |FROM st WHERE s2 IS NOT NULL AND s3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |HAVING count(DISTINCT user_id) >= 2""".stripMargin

  // ----------------------------------------------------------- hampel
  // Rolling ±3-row median/MAD outlier flags on each user's value
  // series — exact integer medians from sorted micro-unit frames.
  def qHampel(s: SparkSession, dir: String): DataFrame =
    Hampel.filter(t(s, dir, "events"),
      "user_id", "ts", "event_id", "value", halfWindow = 3)

  val qHampelSql: String =
    """WITH src AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
      |  FROM events WHERE value IS NOT NULL),
      |w AS (SELECT user_id, ts, event_id, vm,
      |    list_sort(list(vm) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
      |  FROM src),
      |m AS (SELECT user_id, ts, event_id, vm, arr, len(arr) AS sz FROM w),
      |m2t AS (SELECT *, arr[(sz + 1) // 2] + arr[sz // 2 + 1] AS m2
      |        FROM m),
      |dv AS (SELECT *,
      |         list_sort(list_transform(arr, v -> abs(v * 2 - m2))) AS dev
      |       FROM m2t)
      |SELECT user_id, ts, event_id, vm, m2,
      |  dev[(sz + 1) // 2] + dev[sz // 2 + 1] AS mad4,
      |  CAST(abs(vm * 2 - m2) * 2 AS DOUBLE) > 3.0 * 1.4826
      |    * CAST(dev[(sz + 1) // 2] + dev[sz // 2 + 1] AS DOUBLE)
      |    AS is_outlier
      |FROM dv""".stripMargin

  // ------------------------------------------------------------ theil
  // Entropy inequality of event value per event type — the
  // decomposable counterpart of q_gini's concentration readout.
  def qTheil(s: SparkSession, dir: String): DataFrame =
    Stats.theilIndexByKey(t(s, dir, "events"), "event_type", "value")

  val qTheilSql: String =
    """WITH src AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm
      |  FROM events WHERE value IS NOT NULL AND value > 0),
      |pos AS (SELECT event_type, vm FROM src WHERE vm > 0),
      |pv AS (SELECT event_type, vm, count(*) AS c FROM pos GROUP BY 1, 2),
      |tm AS (SELECT event_type, vm, c,
      |    CAST(CAST(c AS DOUBLE) * CAST(vm AS DOUBLE)
      |      * ln(CAST(vm AS DOUBLE)) AS DECIMAL(30,6)) AS term
      |  FROM pv),
      |a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(vm AS HUGEINT) * c) AS s, sum(term) AS xlx
      |  FROM tm GROUP BY 1)
      |SELECT event_type, n,
      |  CASE WHEN n > 0 THEN
      |    CAST(xlx AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      |      - ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) END AS theil
      |FROM a""".stripMargin

  // ----------------------------------------------------------- gumbel
  // Tail risk of the daily PEAK event value: Gumbel method-of-moments
  // over the 30 daily maxima + the 20-day return level. Every constant
  // (γ, √6/π, the return quantile) enters both engines as the same
  // double literal — zero runtime libm.
  private val GumbelReturnPeriod = 20

  def qGumbel(s: SparkSession, dir: String): DataFrame =
    Stats.gumbelFit(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      "day", "value", GumbelReturnPeriod)

  val qGumbelSql: String = {
    val c = Stats.GumbelSqrt6OverPi
    val g = Stats.EulerGamma
    val q = -math.log(-math.log(1.0 - 1.0 / GumbelReturnPeriod))
    s"""WITH mx AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    max(CAST(value AS DECIMAL(18,2))) AS m
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1),
       |a AS (SELECT count(*) AS n_blocks, sum(m) AS sx,
       |    sum(m * m) AS sxx FROM mx),
       |f AS (SELECT n_blocks,
       |    CAST(sx AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean,
       |    (CAST(n_blocks AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      / (CAST(n_blocks AS DOUBLE)
       |         * (CAST(n_blocks AS DOUBLE) - 1.0)) AS vs
       |  FROM a),
       |m AS (SELECT n_blocks, mean, vs, sqrt(vs) * $c AS beta FROM f)
       |SELECT n_blocks, mean AS mean_max,
       |  CASE WHEN n_blocks >= 2 AND vs > 0.0
       |    THEN mean - $g * beta END AS mu,
       |  CASE WHEN n_blocks >= 2 AND vs > 0.0 THEN beta END AS beta,
       |  CASE WHEN n_blocks >= 2 AND vs > 0.0
       |    THEN (mean - $g * beta) + beta * $q END AS return_level
       |FROM m""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_gumbel", qGumbel, qGumbelSql),
    Query("q_seq_mine", qSeqMine, qSeqMineSql),
    Query("q_hampel", qHampel, qHampelSql),
    Query("q_theil", qTheil, qTheilSql),
  )
}
