package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 query group: ranking compositions — TextRank keywords
  * (word-graph PageRank), nearest-centroid embedding classification
  * (the O(|labels|) sibling of q_knn_label), and Friedman's
  * within-subject rank ANOVA (the blocked sibling of q_kruskal). */
object QueriesRank {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------- textrank
  // Corpus keywords: PageRank over the adjacent-token graph, top 25.
  // The oracle chains the proven q_pagerank fixed-point round over the
  // q_ngram_lm tokenization.
  private val TrIters = 3
  private val TrTopK = 25
  private val TrDamping = 0.85

  def qTextrank(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextRank.keywords(t(s, dir, "documents"), "text",
      TrIters, TrTopK, TrDamping)

  val qTextrankSql: String = {
    val base = 1.0 - TrDamping
    val fp = graft.operators.PageRank.FpScale
    def round(prev: String, out: String) =
      s"""$out AS (SELECT n.node,
         |    $base + $TrDamping *
         |      (CAST(coalesce(c.s, 0) AS DOUBLE) / $fp) AS rank,
         |    n.outdeg
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.dst, sum(CAST(CAST(CAST(rank / CAST(outdeg AS DOUBLE)
         |        AS FLOAT) AS DOUBLE) * $fp AS BIGINT)) AS s
         |    FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst) c
         |  ON n.node = c.dst)""".stripMargin
    s"""WITH c AS (
       |  SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS sl
       |  FROM documents WHERE text IS NOT NULL),
       |bg AS (SELECT
       |    unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
       |    unnest(list_transform(range(1, len(a)), i -> a[i+1])) AS w2
       |  FROM (SELECT string_split(sl, ' ') AS a FROM c)),
       |p0 AS (SELECT DISTINCT w1 AS a, w2 AS b FROM bg
       |       WHERE w1 <> '' AND w2 <> '' AND w1 <> w2),
       |e AS (SELECT a AS src, b AS dst FROM p0
       |      UNION SELECT b, a FROM p0),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank, outdeg
       |       FROM nodes LEFT JOIN deg ON node = src),
       |${(1 to TrIters).map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT pos, node AS token, rank FROM (
       |  SELECT node, rank, row_number() OVER
       |    (ORDER BY rank DESC, node ASC) AS pos
       |  FROM r$TrIters) WHERE pos <= $TrTopK""".stripMargin
  }

  // ------------------------------------------------- nearest_centroid
  // Rocchio classification of the first 50 embeddings against the
  // label SUM-vectors (cosine is scale-invariant — no mean division).
  def qNearestCentroid(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.similarity.NearestCentroid.predict(
      e, e.filter(col("vec_id") < 50), "vec_id", "embedding", "label")
  }

  val qNearestCentroidSql: String =
    """WITH ce AS (
      |  SELECT label AS lab, i AS idx,
      |    sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1.0e12)
      |      AS HUGEINT)) AS cvi
      |  FROM embeddings CROSS JOIN range(1, 65) t(i)
      |  WHERE label IS NOT NULL AND embedding IS NOT NULL
      |  GROUP BY 1, 2),
      |cd AS (SELECT lab, idx, CAST(cvi AS DOUBLE) / 1.0e12 AS cv
      |       FROM ce),
      |cn AS (SELECT lab,
      |    sum(CAST(floor(cv * cv * 1.0e6) AS HUGEINT)) AS cni
      |  FROM cd GROUP BY 1),
      |qv AS (SELECT vec_id AS query_id, i AS idx,
      |    CAST(embedding[i] AS DOUBLE) AS qx
      |  FROM embeddings CROSS JOIN range(1, 65) t(i)
      |  WHERE vec_id < 50 AND embedding IS NOT NULL),
      |qn AS (SELECT query_id,
      |    sum(CAST(floor(qx * qx * 1.0e12) AS HUGEINT)) AS qni
      |  FROM qv GROUP BY 1),
      |dots AS (SELECT query_id, lab,
      |    sum(CAST(floor(qx * cv * 1.0e12) AS HUGEINT)) AS doti
      |  FROM qv JOIN cd USING (idx) GROUP BY 1, 2),
      |scored AS (SELECT d.query_id, d.lab,
      |    (CAST(d.doti AS DOUBLE) / 1.0e12)
      |      / (sqrt(CAST(q.qni AS DOUBLE) / 1.0e12)
      |         * sqrt(CAST(c.cni AS DOUBLE) / 1.0e6)) AS cos_sim
      |  FROM dots d JOIN cn c ON c.lab = d.lab
      |  JOIN qn q ON q.query_id = d.query_id)
      |SELECT query_id, lab AS pred_label, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, lab ASC) AS rn
      |  FROM scored) WHERE rn = 1""".stripMargin

  // --------------------------------------------------------- friedman
  // Did any event type shift per-user total value, blocking on the
  // user? Within-subject rank ANOVA over the (user, type) cell sums.
  def qFriedman(s: SparkSession, dir: String): DataFrame =
    graft.operators.Inference.friedman(t(s, dir, "events"),
      "user_id", "event_type", "value")

  val qFriedmanSql: String =
    """WITH cells AS (
      |  SELECT user_id AS subj, event_type AS trt,
      |    sum(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |kc AS (SELECT count(DISTINCT trt) AS k FROM cells),
      |tot AS (SELECT count(DISTINCT subj) AS tot FROM cells),
      |complete AS (SELECT subj, trt, v FROM (
      |    SELECT *, count(*) OVER (PARTITION BY subj) AS nkc FROM cells),
      |    kc WHERE nkc = kc.k),
      |ranked AS (SELECT subj, trt, v,
      |    rank() OVER (PARTITION BY subj ORDER BY v ASC)
      |      + (SELECT k FROM kc) + 1
      |      - rank() OVER (PARTITION BY subj ORDER BY v DESC) AS r2,
      |    count(*) OVER (PARTITION BY subj, v) AS c
      |  FROM complete),
      |pt AS (SELECT trt, sum(CAST(r2 AS HUGEINT)) AS r2sum,
      |    sum(CAST(c AS HUGEINT) * c - 1) AS tiep, count(*) AS n
      |  FROM ranked GROUP BY 1),
      |f AS (SELECT count(*) AS k2, CAST(max(n) AS BIGINT) AS n_subjects,
      |    sum(CAST(r2sum AS HUGEINT) * r2sum) AS r2sq, sum(tiep) AS ties
      |  FROM pt),
      |m AS (SELECT n_subjects, k2,
      |    12.0 * (CAST(r2sq AS DOUBLE) / 4.0)
      |      / (CAST(n_subjects AS DOUBLE) * CAST(k2 AS DOUBLE)
      |         * (CAST(k2 AS DOUBLE) + 1.0))
      |      - 3.0 * CAST(n_subjects AS DOUBLE)
      |        * (CAST(k2 AS DOUBLE) + 1.0) AS chi2,
      |    1.0 - CAST(ties AS DOUBLE)
      |      / (CAST(n_subjects AS DOUBLE) * CAST(k2 AS DOUBLE)
      |         * (CAST(k2 AS DOUBLE) * CAST(k2 AS DOUBLE) - 1.0)) AS corr
      |  FROM f)
      |SELECT n_subjects,
      |  CAST((SELECT tot FROM tot) - n_subjects AS BIGINT) AS n_excluded,
      |  k2 AS k,
      |  CASE WHEN k2 >= 2 AND n_subjects > 0 THEN chi2 END AS chi2,
      |  CASE WHEN k2 >= 2 AND n_subjects > 0 AND corr > 0.0
      |    THEN chi2 / corr END AS chi2_adj
      |FROM m""".stripMargin

  // -------------------------------------------------------- hellinger
  // Hellinger distance of returned-lines price bins vs the rest — the
  // bounded, symmetric companion of q_psi over the same 10k-wide bins.
  // sqrt is IEEE-correctly-rounded (unlike exp/ln), so the per-bin
  // terms carry no libm caveat at all.
  def qHellinger(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      floor(col("l_extendedprice") / 10000.0).cast("long").as("bin"))
    graft.operators.Divergence.hellinger(
      li.filter(col("l_returnflag") === "R"),
      li.filter(col("l_returnflag") =!= "R"), "bin")
  }

  val qHellingerSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin
      |  FROM lineitem),
      |ac AS (SELECT bin, count(*) AS ca FROM b
      |  WHERE l_returnflag = 'R' AND bin IS NOT NULL GROUP BY 1),
      |ec AS (SELECT bin, count(*) AS ce FROM b
      |  WHERE l_returnflag <> 'R' AND bin IS NOT NULL GROUP BY 1),
      |j AS (SELECT coalesce(ac.bin, ec.bin) AS bin,
      |    coalesce(ca, 0) AS ca, coalesce(ce, 0) AS ce
      |  FROM ac FULL JOIN ec ON ac.bin = ec.bin),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |  CAST(sum(ce) AS BIGINT) AS ne,
      |  CAST(count(*) AS BIGINT) AS nb FROM j),
      |terms AS (SELECT na, ne, nb,
      |    CAST(sqrt((CAST(ca + 1 AS DOUBLE) / CAST(na + nb AS DOUBLE))
      |        * (CAST(ce + 1 AS DOUBLE) / CAST(ne + nb AS DOUBLE)))
      |      AS DECIMAL(20,12)) AS t
      |  FROM j CROSS JOIN tot)
      |SELECT na AS n_actual, ne AS n_expected, nb AS n_bins,
      |  sqrt(greatest(1.0 - CAST(sum(t) AS DOUBLE), 0.0)) AS hellinger
      |FROM terms GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------ stump
  // Best single quantity threshold separating returned lines: weighted
  // Gini argmin by exact integer scores (micro integral divisions).
  def qStump(s: SparkSession, dir: String): DataFrame =
    graft.operators.DecisionStump.bestSplit(
      t(s, dir, "lineitem")
        .withColumn("ret", (col("l_returnflag") === "R").cast("long")),
      "l_quantity", "ret")

  val qStumpSql: String = {
    val hiLo = {
      val m = "score"
      val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
      val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
      // score is non-negative by construction — sign split elided
      s"(($hi * 9007199254740992.0 + $lo) / 1.0e12)"
    }
    s"""WITH src AS (
       |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS vm,
       |    CAST(l_returnflag = 'R' AS BIGINT) AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
       |pv AS (SELECT vm, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
       |       FROM src GROUP BY 1),
       |cum AS (SELECT vm, pos, n,
       |    sum(pos) OVER (ORDER BY vm
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posL,
       |    sum(n) OVER (ORDER BY vm
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nL
       |  FROM pv),
       |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS posT,
       |    CAST(sum(n) AS BIGINT) AS nT FROM pv),
       |sc AS (SELECT vm, nL, posL, nT, posT, nT - nL AS nR,
       |    nL - posL AS negL, posT - posL AS posR,
       |    (nT - nL) - (posT - posL) AS negR
       |  FROM cum CROSS JOIN tot WHERE nT - nL > 0),
       |scored AS (SELECT *,
       |    (CAST(1000000000000 AS HUGEINT)
       |       * (CAST(posL AS HUGEINT) * posL
       |          + CAST(negL AS HUGEINT) * negL)) // nL
       |    + (CAST(1000000000000 AS HUGEINT)
       |       * (CAST(posR AS HUGEINT) * posR
       |          + CAST(negR AS HUGEINT) * negR)) // nR AS score
       |  FROM sc)
       |SELECT CAST(vm AS DOUBLE) / 100.0 AS threshold, nT AS n,
       |  CAST(nL AS BIGINT) AS n_left, CAST(posL AS BIGINT) AS pos_left,
       |  CAST(posR AS BIGINT) AS pos_right,
       |  1.0 - $hiLo / CAST(nT AS DOUBLE) AS gini_weighted
       |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, vm ASC)
       |        AS rn
       |      FROM scored) WHERE rn = 1""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_hellinger", qHellinger, qHellingerSql),
    Query("q_stump", qStump, qStumpSql),
    Query("q_textrank", qTextrank, qTextrankSql),
    Query("q_nearest_centroid", qNearestCentroid, qNearestCentroidSql),
    Query("q_friedman", qFriedman, qFriedmanSql),
  )
}
