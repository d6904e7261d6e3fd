package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Privacy

/** Beyond-reference query group: privacy auditing before release —
  * k-anonymity class sizes, a one-row re-identification risk report,
  * l-diversity homogeneity flags, and epsilon-DP noisy counts
  * (graft.operators.Privacy).
  *
  * The quasi-identifier set is (nation, market segment, account-balance
  * thousand-band) over `customer` — the classic "coarse demographics
  * still single people out" shape. Every oracle replays the operator's
  * exact arithmetic: the balance band is one IEEE divide + floor, the
  * risk percentage one IEEE divide of exact integers, and the DP noise
  * the same 48-bit md5 uniform through the same inverse-CDF Laplace
  * (rounded through DECIMAL(28,6) on both engines — ln is libm,
  * engine-portable only after decimal rounding; NOTES parity rule 4).
  */
object QueriesPrivacy {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val KMin = 5L
  private val LMin = 3L
  private val Eps = 1.0
  private val Seed = 42L

  /** Quasi-identifier projection: the raw demographic columns plus the
    * generalized balance band (floor of one exact IEEE divide). */
  private def quasi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / lit(1000.0)).as("bal_band"))

  private val quasiSql =
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      |FROM customer""".stripMargin

  // ---------------------------------------------------------- k-anonymity
  // One row per equivalence class with its population: the releasing
  // pipeline's map of which quasi tuples are re-identification handles.
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymity(quasi(s, dir),
      Seq("c_nationkey", "c_mktsegment", "bal_band"))

  private val qKAnonymitySql =
    s"""SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS k
       |FROM ($quasiSql) GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------- risk report
  // One-row summary: the table's k-anonymity (min class size) and the
  // population sitting in classes under the k >= 5 bar.
  private def qPrivacyRisk(s: SparkSession, dir: String): DataFrame =
    Privacy.riskReport(quasi(s, dir),
      Seq("c_nationkey", "c_mktsegment", "bal_band"), KMin)

  private val qPrivacyRiskSql =
    s"""WITH classes AS (
       |  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS k
       |  FROM ($quasiSql) GROUP BY 1, 2, 3)
       |SELECT count(*) AS n_classes,
       |  CAST(sum(k) AS BIGINT) AS n_rows,
       |  min(k) AS min_k,
       |  CAST(sum(CASE WHEN k < $KMin THEN k ELSE 0 END) AS BIGINT)
       |    AS rows_at_risk,
       |  CAST(sum(CASE WHEN k < $KMin THEN k ELSE 0 END) * 100 AS DOUBLE)
       |    / CAST(sum(k) AS DOUBLE) AS pct_at_risk
       |FROM classes""".stripMargin

  // ---------------------------------------------------------- l-diversity
  // Homogeneity audit on the coarser (nation, segment) classes with the
  // balance band as the sensitive value: big-k classes can still leak
  // everyone's balance range if l = 1.
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Privacy.lDiversity(quasi(s, dir), Seq("c_nationkey", "c_mktsegment"),
      "bal_band", LMin)

  private val qLDiversitySql =
    s"""SELECT c_nationkey, c_mktsegment, count(*) AS k,
       |  count(DISTINCT bal_band) AS l,
       |  count(DISTINCT bal_band) >= $LMin AS diverse
       |FROM ($quasiSql) GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------- t-closeness
  // The trio's third leg: per (nation, segment) class, the variational
  // distance between the class's bal_band distribution and the table's,
  // computed EXACTLY in integers over the common denominator n_c·N —
  // the oracle replays the identical grid (absent values included) and
  // integer algebra. t <= 0.25 is the `close` bar.
  private val TMaxPpm = 250000L

  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    Privacy.tCloseness(quasi(s, dir), Seq("c_nationkey", "c_mktsegment"),
      "bal_band", TMaxPpm)

  private val qTClosenessSql =
    s"""WITH q AS ($quasiSql),
       |cells AS (
       |  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS n_ic
       |  FROM q WHERE bal_band IS NOT NULL GROUP BY 1, 2, 3),
       |classes AS (
       |  SELECT c_nationkey, c_mktsegment, CAST(sum(n_ic) AS BIGINT) AS n_c
       |  FROM cells GROUP BY 1, 2),
       |globals AS (
       |  SELECT bal_band, CAST(sum(n_ic) AS BIGINT) AS n_i
       |  FROM cells GROUP BY 1),
       |total AS (SELECT CAST(sum(n_i) AS BIGINT) AS n_tot FROM globals),
       |grid AS (
       |  SELECT cl.c_nationkey, cl.c_mktsegment, cl.n_c, g.n_i,
       |    coalesce(ce.n_ic, 0) AS n_ic, t.n_tot
       |  FROM classes cl CROSS JOIN globals g CROSS JOIN total t
       |  LEFT JOIN cells ce ON ce.c_nationkey = cl.c_nationkey
       |    AND ce.c_mktsegment = cl.c_mktsegment
       |    AND ce.bal_band = g.bal_band)
       |SELECT c_nationkey, c_mktsegment,
       |  max(n_c) AS k,
       |  CAST((CAST(sum(abs(n_ic * n_tot - n_i * n_c)) AS BIGINT) * 1000000)
       |    // (2 * max(n_c) * max(n_tot)) AS BIGINT) AS t_ppm,
       |  CAST((CAST(sum(abs(n_ic * n_tot - n_i * n_c)) AS BIGINT) * 1000000)
       |    // (2 * max(n_c) * max(n_tot)) AS BIGINT) <= $TMaxPpm AS close
       |FROM grid GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------- DP counts
  // Laplace-noised segment histogram, noise keyed on (segment, seed) —
  // the oracle re-derives the identical 48-bit uniform and inverse CDF.
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    Privacy.dpCounts(t(s, dir, "customer"), "c_mktsegment", Eps, Seed)

  private val qDpCountsSql: String = {
    // 12 hex chars -> BIGINT via the pure-SQL fold (DuckDB has no
    // hex-literal cast); matches Spark's conv(substring(md5,..),16,10).
    val hexFold =
      "list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5(c_mktsegment || ':dp:$Seed'), 1, 12), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH counts AS (
       |  SELECT c_mktsegment, count(*) AS n_true
       |  FROM customer GROUP BY 1),
       |noise AS (
       |  SELECT c_mktsegment, n_true,
       |    CAST($hexFold AS DOUBLE) / ${Privacy.Pow2_48} - 0.5 AS c
       |  FROM counts)
       |SELECT c_mktsegment, n_true,
       |  CAST(CAST(n_true +
       |      -sign(c) * ln(greatest(1e-12, 1.0 - 2.0 * abs(c))) / $Eps
       |    AS DECIMAL(28,6)) AS DOUBLE) AS n_noisy
       |FROM noise""".stripMargin
  }

  // -------------------------------------------------------------- DP sum
  // Clipped-sum Laplace mechanism: account balances clipped to
  // [0, 5000] per customer (sensitivity = 5000), noise scale clip/eps
  // from the same deterministic 48-bit draw. The clip is load-bearing
  // on this data — c_acctbal goes negative, and without the bound the
  // sum has unbounded sensitivity (no finite noise privatizes it).
  private val DpClip = 5000.0

  private def qDpSum(s: SparkSession, dir: String): DataFrame =
    Privacy.dpSum(t(s, dir, "customer"), "c_mktsegment", "c_acctbal",
      DpClip, Eps, Seed)

  private val qDpSumSql: String = {
    val hexFold =
      "list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5(c_mktsegment || ':dp:$Seed'), 1, 12), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH sums AS (
       |  SELECT c_mktsegment,
       |    CAST(sum(CAST(least(greatest(CAST(c_acctbal AS DOUBLE), 0.0),
       |      $DpClip) AS DECIMAL(18,6))) AS DOUBLE) AS sum_clipped
       |  FROM customer GROUP BY 1),
       |noise AS (
       |  SELECT c_mktsegment, sum_clipped,
       |    CAST($hexFold AS DOUBLE) / ${Privacy.Pow2_48} - 0.5 AS c
       |  FROM sums)
       |SELECT c_mktsegment, sum_clipped,
       |  CAST(CAST(sum_clipped + $DpClip *
       |      (-sign(c) * ln(greatest(1e-12, 1.0 - 2.0 * abs(c))) / $Eps)
       |    AS DECIMAL(28,6)) AS DOUBLE) AS sum_noisy
       |FROM noise""".stripMargin
  }

  // -------------------------------------------------------- pseudonymize
  // Keyed tokenization preserves referential integrity: customer and
  // order keys tokenized under the same secret still join. Output pins
  // both the join cardinality per segment AND a concrete token value
  // (min), so the oracle verifies the token derivation byte-for-byte.
  private val PseudoSecret = "graft-secret-7"

  private def qPseudonymize(s: SparkSession, dir: String): DataFrame = {
    val c = Privacy.pseudonymize(
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
      "c_custkey", PseudoSecret)
    val o = Privacy.pseudonymize(
      t(s, dir, "orders").select(col("o_custkey")),
      "o_custkey", PseudoSecret)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), min(col("c_custkey")).as("min_token"))
  }

  private val qPseudonymizeSql =
    s"""WITH c AS (SELECT md5('$PseudoSecret:' || CAST(c_custkey AS VARCHAR))
       |    AS tok, c_mktsegment FROM customer),
       |o AS (SELECT md5('$PseudoSecret:' || CAST(o_custkey AS VARCHAR))
       |    AS tok FROM orders)
       |SELECT c_mktsegment, count(*) AS n_orders, min(c.tok) AS min_token
       |FROM c JOIN o ON c.tok = o.tok
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- suppress rare
  // Generalize under-k classes of (segment, nation) to OTHER; output the
  // full transformed projection so the oracle checks every row's verdict.
  private val SuppressK = 8L

  private def qSuppressRare(s: SparkSession, dir: String): DataFrame =
    Privacy.suppressRare(
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        concat(lit("n"), col("c_nationkey").cast("string")).as("nation")),
      Seq("c_mktsegment", "nation"), SuppressK)

  private val qSuppressRareSql =
    s"""WITH src AS (
       |  SELECT c_custkey, c_mktsegment,
       |    'n' || CAST(c_nationkey AS VARCHAR) AS nation
       |  FROM customer),
       |rare AS (
       |  SELECT c_mktsegment, nation FROM src
       |  GROUP BY 1, 2 HAVING count(*) < $SuppressK)
       |SELECT s.c_custkey,
       |  CASE WHEN r.c_mktsegment IS NOT NULL THEN 'OTHER'
       |       ELSE s.c_mktsegment END AS c_mktsegment,
       |  CASE WHEN r.c_mktsegment IS NOT NULL THEN 'OTHER'
       |       ELSE s.nation END AS nation
       |FROM src s LEFT JOIN rare r
       |  ON s.c_mktsegment = r.c_mktsegment AND s.nation = r.nation""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_pseudonymize", qPseudonymize, qPseudonymizeSql),
    Query("q_suppress_rare", qSuppressRare, qSuppressRareSql),
    Query("q_k_anonymity", qKAnonymity, qKAnonymitySql),
    Query("q_privacy_risk", qPrivacyRisk, qPrivacyRiskSql),
    Query("q_l_diversity", qLDiversity, qLDiversitySql),
    Query("q_t_closeness", qTCloseness, qTClosenessSql),
    Query("q_dp_counts", qDpCounts, qDpCountsSql),
    Query("q_dp_sum", qDpSum, qDpSumSql),
  )
}
