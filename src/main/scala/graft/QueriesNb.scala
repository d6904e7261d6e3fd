package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.NaiveBayes

/** Round-12 query group: trainable text classification — multinomial
  * Naive Bayes self-trained on the documents table (lang as the label),
  * the relational form of the FastText-style routing/quality gates an
  * LLM-data pipeline runs at ingest. The oracle replays tokenization,
  * add-one smoothing, DECIMAL(20,12) log quantization, and the
  * deterministic argmax tie-break. */
object QueriesNb {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def qNaiveBayes(s: SparkSession, dir: String): DataFrame =
    NaiveBayes.classify(t(s, dir, "documents"), "doc_id", "lang", "text")

  /** The NB classification CTE chain ending in `rk` (rn = 1 rows are
    * the predictions) — shared with the q_gate_pipeline composite. */
  private[graft] val nbCtes: String =
    """base AS (
      |  SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS sl
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, lang, unnest(string_split(sl, ' ')) AS w
      |        FROM base),
      |tokc AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
      |ct AS (SELECT lang, w, count(*) AS c FROM tokc
      |       WHERE lang IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM ct
      |        GROUP BY 1),
      |voc AS (SELECT DISTINCT w FROM ct),
      |v AS (SELECT count(*) AS v FROM voc),
      |dpc AS (SELECT lang, count(*) AS dl FROM base
      |        WHERE lang IS NOT NULL GROUP BY 1),
      |dt AS (SELECT count(*) AS d FROM base WHERE lang IS NOT NULL),
      |priors AS (SELECT lang,
      |    CAST(ln(CAST(dl AS DOUBLE) / CAST(d AS DOUBLE))
      |      AS DECIMAL(20,12)) AS prior
      |  FROM dpc, dt),
      |grid AS (SELECT voc.w AS token, tot.lang AS cand,
      |    CAST(ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
      |        / CAST(tot.nl + v.v AS DOUBLE)) AS DECIMAL(20,12)) AS lp
      |  FROM voc CROSS JOIN tot CROSS JOIN v
      |  LEFT JOIN ct ON ct.w = voc.w AND ct.lang = tot.lang),
      |sc AS (SELECT t.doc_id, t.lang, g.cand,
      |         sum(g.lp) AS lpsum, count(*) AS nt
      |  FROM tokc t JOIN grid g ON g.token = t.w
      |  GROUP BY 1, 2, 3),
      |sp AS (SELECT sc.doc_id, sc.lang, sc.cand, sc.nt,
      |         p.prior + sc.lpsum AS score
      |  FROM sc JOIN priors p ON p.lang = sc.cand),
      |rk AS (SELECT doc_id, lang, cand, nt, score,
      |         row_number() OVER (PARTITION BY doc_id
      |           ORDER BY score DESC, cand DESC) AS rn
      |       FROM sp)""".stripMargin

  val qNaiveBayesSql: String =
    s"""WITH $nbCtes
       |SELECT doc_id, lang, cand AS pred, CAST(score AS DOUBLE) AS score,
       |  CAST(nt AS BIGINT) AS n_tokens
       |FROM rk WHERE rn = 1""".stripMargin

  // ---------------------------------------------------- gate_pipeline
  // Composite ingest-gate: the NB lang router flags documents whose
  // predicted language disagrees with the label, and the decision
  // stump asks whether DOCUMENT LENGTH predicts that disagreement —
  // "are router errors a short-document problem?", a real curation
  // triage readout chaining two already-oracled stages bit-exactly.
  def qGatePipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nb = graft.operators.NaiveBayes.classify(
      docs, "doc_id", "lang", "text")
    val flagged = nb
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("mismatch", (col("pred") =!= col("lang")).cast("long"))
    graft.operators.DecisionStump.bestSplit(flagged, "n_chars",
      "mismatch")
  }

  val qGatePipelineSql: String = {
    val hiLo = {
      val m = "score"
      val hi = s"CAST(abs($m) // 9007199254740992 AS DOUBLE)"
      val lo = s"CAST(abs($m) % 9007199254740992 AS DOUBLE)"
      s"(($hi * 9007199254740992.0 + $lo) / 1.0e12)"
    }
    s"""WITH $nbCtes,
       |pred AS (SELECT doc_id, lang, cand AS pred FROM rk WHERE rn = 1),
       |gsrc AS (SELECT
       |    CAST(CAST(d.n_chars AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm,
       |    CAST(p.pred <> p.lang AS BIGINT) AS y
       |  FROM pred p JOIN documents d ON d.doc_id = p.doc_id
       |  WHERE d.n_chars IS NOT NULL
       |    AND CAST(p.pred <> p.lang AS BIGINT) IS NOT NULL),
       |gpv AS (SELECT vm, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
       |        FROM gsrc GROUP BY 1),
       |gcum AS (SELECT vm, pos, n,
       |    sum(pos) OVER (ORDER BY vm
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posL,
       |    sum(n) OVER (ORDER BY vm
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nL
       |  FROM gpv),
       |gtot AS (SELECT CAST(sum(pos) AS BIGINT) AS posT,
       |    CAST(sum(n) AS BIGINT) AS nT FROM gpv),
       |gsc AS (SELECT vm, nL, posL, nT, posT, nT - nL AS nR,
       |    nL - posL AS negL, posT - posL AS posR,
       |    (nT - nL) - (posT - posL) AS negR
       |  FROM gcum CROSS JOIN gtot WHERE nT - nL > 0),
       |gscored AS (SELECT *,
       |    (CAST(1000000000000 AS HUGEINT)
       |       * (CAST(posL AS HUGEINT) * posL
       |          + CAST(negL AS HUGEINT) * negL)) // nL
       |    + (CAST(1000000000000 AS HUGEINT)
       |       * (CAST(posR AS HUGEINT) * posR
       |          + CAST(negR AS HUGEINT) * negR)) // nR AS score
       |  FROM gsc)
       |SELECT CAST(vm AS DOUBLE) / 100.0 AS threshold, nT AS n,
       |  CAST(nL AS BIGINT) AS n_left, CAST(posL AS BIGINT) AS pos_left,
       |  CAST(posR AS BIGINT) AS pos_right,
       |  1.0 - $hiLo / CAST(nT AS DOUBLE) AS gini_weighted
       |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, vm ASC)
       |        AS rn
       |      FROM gscored) WHERE rn = 1""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_naive_bayes", qNaiveBayes, qNaiveBayesSql),
    Query("q_gate_pipeline", qGatePipeline, qGatePipelineSql),
  )
}
