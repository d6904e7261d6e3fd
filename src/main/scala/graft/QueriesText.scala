package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.TextFunctions
import graft.similarity.CosineSearch

/** Beyond-reference query group: text analysis, deduplication, similarity
  * search over `documents`/`embeddings` (the LLM-data-pipeline operators).
  *
  * The SQL oracles are generated from the same constants as the Column
  * builders so both sides stay structurally identical (same arithmetic
  * nesting => same IEEE results; md5-based hashing => engine-portable).
  */
object QueriesText {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --- SQL fragment builders mirroring TextFunctions -----------------
  // (private[graft]: QueriesExtra's composite queries reuse them)
  private[graft] def sqlCollapse(x: String) =
    s"trim(regexp_replace($x, '\\s+', ' ', 'g'))"
  private[graft] def sqlTokens(s: String) =
    s"CASE WHEN $s = '' THEN 0 ELSE length($s) - length(replace($s, ' ', '')) + 1 END"
  private def sqlOcc(p: String, m: String) =
    s"((length($p) - length(replace($p, '$m', ''))) / ${m.length})"
  private[graft] def sqlLangScore(p: String, ms: Seq[String]) =
    ms.map(m => sqlOcc(p, m)).mkString(" + ")

  /** TextFunctions.qualityScore over pre-computed column names (the
    * collapsed text `s`, token count, stopword hits) — identical
    * arithmetic shape on both engines. */
  private[graft] def sqlQuality(s: String, nTokens: String,
      stopHits: String): String =
    s"""CASE WHEN $s IS NULL THEN NULL ELSE
       |  least(1.0, CAST($nTokens AS DOUBLE) / 50.0) * 0.4 +
       |  least(1.0, ($stopHits / (CAST($nTokens AS DOUBLE) + 1.0)) * 5.0) * 0.3 +
       |  CASE WHEN ((length($s) - ($nTokens - 1)) * 1.0 / (CAST($nTokens AS DOUBLE) + 1.0))
       |            BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END END""".stripMargin

  /** The quality-score CTE chain over a text expression: emits CTEs
    * `sw`/`tokw` ending in `qw` = (doc_id, <carryCols>, n_tokens, qual).
    * Shared by q_weighted_sample, the curation-pipeline composite, and
    * the profiling oracles so the score arithmetic (and the stop-marker
    * list) exists once per side. */
  private[graft] def sqlQualityCtes(sourceRel: String, textExpr: String,
      carryCols: Seq[String]): String = {
    val carry = (Seq("doc_id") ++ carryCols).mkString(", ")
    s"""sw AS (SELECT $carry, ${sqlCollapse(textExpr)} AS s,
       |         ${sqlCollapse(s"lower($textExpr)")} AS sl FROM $sourceRel),
       |tokw AS (SELECT $carry, s, ${sqlTokens("s")} AS n_tokens,
       |        ${sqlLangScore("(' ' || sl || ' ')", TextFunctions.QualityStopMarkers)} AS stop_hits
       |        FROM sw),
       |qw AS (SELECT $carry, n_tokens,
       |  ${sqlQuality("s", "n_tokens", "stop_hits")} AS qual
       |  FROM tokw)""".stripMargin
  }

  /** Deterministic-sampling bucket count — shared by the hash samplers
    * here, in [[QueriesTextDedup]], and QueriesExtra's composites. */
  private[graft] val SampleBuckets = 10000

  /** Sampling.hashBucket as a DuckDB fold: first 6 md5 hex chars of the
    * key to BIGINT (pure-SQL hex fold, engine-portable). */
  private[graft] def sqlHexFold(key: String): String =
    s"list_reduce(list_transform(regexp_split_to_array(" +
      s"substr(md5(CAST($key AS VARCHAR)), 1, 6), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
      "(a, x) -> a * 16 + x)"

  // ----------------------------------------------------------- text stats
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val c = col("text")
    docs.select(
      col("doc_id"),
      TextFunctions.tokenCount(c).as("n_tokens"),
      length(TextFunctions.collapseWs(c)).as("n_chars_norm"),
      TextFunctions.langScore(lower(c), TextFunctions.QualityStopMarkers)
        .as("stop_hits"),
      TextFunctions.punctRatio(c).as("punct_ratio"),
      TextFunctions.qualityScore(c).as("quality"))
  }

  val qTextStatsSql: String = {
    val s0 = sqlCollapse("text")
    val sl = sqlCollapse("lower(text)")
    val p = s"' ' || sl || ' '"
    s"""WITH c AS (SELECT doc_id, $s0 AS s, $sl AS sl FROM documents),
       |tok AS (SELECT doc_id, s, sl, ${sqlTokens("s")} AS n_tokens,
       |        ${sqlLangScore("(' ' || sl || ' ')", TextFunctions.QualityStopMarkers)} AS stop_hits
       |        FROM c)
       |SELECT doc_id, n_tokens, length(s) AS n_chars_norm, stop_hits,
       |  CASE WHEN length(s) = 0 THEN 0.0
       |       ELSE CAST(length(s) - length(translate(s, '.,;:!?"''()-', '')) AS DOUBLE)
       |            / CAST(length(s) AS DOUBLE) END AS punct_ratio,
       |  ${sqlQuality("s", "n_tokens", "stop_hits")} AS quality
       |FROM tok""".stripMargin
  }

  // -------------------------------------------------------------- lang id
  def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("lang").as("lang_label"),
      TextFunctions.langId(col("text")).as("lang_pred"))

  val qLangIdSql: String = {
    val scoreCols = TextFunctions.LangMarkers.map { case (lang, ms) =>
      s"${sqlLangScore("p", ms)} AS s_$lang"
    }.mkString(",\n        ")
    val langs = TextFunctions.LangMarkers.map(_._1)
    val greatest = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val arms = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH c AS (SELECT doc_id, lang,
       |        ' ' || ${sqlCollapse("lower(text)")} || ' ' AS p FROM documents),
       |sc AS (SELECT doc_id, lang, $scoreCols FROM c),
       |mx AS (SELECT *, $greatest AS m FROM sc)
       |SELECT doc_id, lang AS lang_label,
       |  CASE WHEN m <= 0 THEN 'und' $arms END AS lang_pred
       |FROM mx""".stripMargin
  }



  // -------------------------------------------------------- lang-id kappa
  // Corpus-QA composition: chance-corrected agreement between the
  // n-gram lang-id heuristic and the labeled `lang` column, per source
  // (Stats.cohenKappa over q_lang_id's prediction) — the "is my
  // heuristic better than guessing the majority label" gate a curation
  // pipeline reads before trusting heuristic language routing. The
  // oracle composes the lang-id score SQL with the kappa margin
  // algebra, so heuristic AND statistic replay together.
  def qLangIdKappa(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cohenKappa(
      t(s, dir, "documents").select(col("source"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label")),
      "source", "lang_pred", "lang_label")

  val qLangIdKappaSql: String = {
    val scoreCols = TextFunctions.LangMarkers.map { case (lang, ms) =>
      s"${sqlLangScore("p", ms)} AS s_$lang"
    }.mkString(",\n        ")
    val langs = TextFunctions.LangMarkers.map(_._1)
    val greatest = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val arms = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH c AS (SELECT source, lang,
       |        ' ' || ${sqlCollapse("lower(text)")} || ' ' AS p FROM documents),
       |sc AS (SELECT source, lang, $scoreCols FROM c),
       |mx AS (SELECT *, $greatest AS m FROM sc),
       |rated AS (SELECT source AS k,
       |    CASE WHEN m <= 0 THEN 'und' $arms END AS a, lang AS b
       |  FROM mx WHERE lang IS NOT NULL),
       |cells AS (SELECT k, a, b, count(*) AS c FROM rated GROUP BY 1, 2, 3),
       |base AS (SELECT k, CAST(sum(c) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
       |  FROM cells GROUP BY 1),
       |rt AS (SELECT k, a AS cat, sum(c) AS r FROM cells GROUP BY 1, 2),
       |ct AS (SELECT k, b AS cat, sum(c) AS l FROM cells GROUP BY 1, 2),
       |pe AS (SELECT rt.k, CAST(sum(rt.r * ct.l) AS BIGINT) AS pe_num
       |  FROM rt JOIN ct ON rt.k = ct.k AND rt.cat = ct.cat GROUP BY 1)
       |SELECT base.k AS source, n, agree,
       |  CAST(coalesce(pe_num, 0) AS BIGINT) AS pe_num,
       |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |  CAST(coalesce(pe_num, 0) AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
       |  CASE WHEN CAST(coalesce(pe_num, 0) AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
       |    (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
       |      - CAST(coalesce(pe_num, 0) AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |    / (1.0 - CAST(coalesce(pe_num, 0) AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |  END AS kappa
       |FROM base LEFT JOIN pe ON base.k = pe.k""".stripMargin
  }

  // Flesch reading-ease from three engine-portable regex counts (words,
  // sentence marks, vowel-group syllable proxy) and one fixed-shape
  // double formula — the readability member of the quality-signal
  // family. Zero-count docs gate to null instead of dividing by zero.
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val txt = graft.functions.TextFunctions.normalize(col("text"))
    val words = size(regexp_extract_all(txt, lit("[a-z0-9']+"), lit(0)))
      .cast("long")
    val sentences = greatest(
      size(regexp_extract_all(txt, lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val syllables = size(regexp_extract_all(txt, lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") > 0,
          lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))).as("flesch"))
  }

  val qReadabilitySql: String =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(${sqlCollapse("text")}),
       |      '[a-z0-9'']+')) AS BIGINT) AS n_words,
       |    greatest(CAST(len(regexp_extract_all(lower(${sqlCollapse("text")}),
       |      '[.!?]+')) AS BIGINT), 1) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(${sqlCollapse("text")}),
       |      '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words > 0 THEN
       |    CAST(206.835 AS DOUBLE)
       |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE)
       |        / CAST(n_sentences AS DOUBLE))
       |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE)
       |        / CAST(n_words AS DOUBLE))
       |  END AS flesch
       |FROM c""".stripMargin




  // Deflate-redundancy quality signal (Gopher-family): map-side native
  // expression. NOT in the driver registry — zlib output is build-scoped
  // and DuckDB has no deflate, so there is no computable oracle; the
  // verification surface is CompressRatioSpec (value orderings pinned)
  // plus the SQL function registration in GraftExtensions, the same
  // spec-only treatment as XlsSource. Kept here as the library's usage
  // example for the expression.
  def qCompressRatio(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        graft.functions.CompressRatioExpr.compress_ratio(col("text"))
          .as("compress_ratio"))

  // Jensen-Shannon drift of each source's token distribution against
  // the corpus: integer counts -> fixed-shape probabilities -> per-term
  // contributions rounded DECIMAL(20,12) (the PMI ln treatment) ->
  // order-independent decimal sum.
  def qJsDiv(s: SparkSession, dir: String): DataFrame =
    graft.operators.Divergence.jsAgainstCorpus(
      t(s, dir, "documents"), "source", "text")

  val qJsDivSql: String =
    s"""WITH terms AS (
       |  SELECT source AS g, term FROM (
       |    SELECT source, unnest(ws) AS term FROM (
       |      SELECT source, regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents WHERE source IS NOT NULL) d)
       |  WHERE term <> ''),
       |pg AS (SELECT g, term, count(*) AS c_gt FROM terms GROUP BY 1, 2),
       |pt AS (SELECT term, sum(c_gt) AS c_t FROM pg GROUP BY 1),
       |gt AS (SELECT g, sum(c_gt) AS n_g FROM pg GROUP BY 1),
       |tot AS (SELECT sum(c_t) AS n FROM pt),
       |pairs AS (
       |  SELECT gt.g, pt.term, pt.c_t, gt.n_g, tot.n, pg.c_gt
       |  FROM pt CROSS JOIN tot CROSS JOIN gt
       |  LEFT JOIN pg ON pg.g = gt.g AND pg.term = pt.term),
       |c AS (
       |  SELECT g, n_g, CAST(
       |    CASE WHEN c_gt IS NULL THEN
       |      0.5 * (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
       |        * ln((CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
       |             / ((CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
       |    ELSE
       |      0.5 * (CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE))
       |        * ln((CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE))
       |             / ((CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE)
       |                 + CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
       |      + 0.5 * (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
       |        * ln((CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
       |             / ((CAST(c_gt AS DOUBLE) / CAST(n_g AS DOUBLE)
       |                 + CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
       |    END AS DECIMAL(20,12)) AS contrib
       |  FROM pairs)
       |SELECT g AS source, CAST(max(n_g) AS BIGINT) AS n_tokens,
       |  CAST(sum(contrib) AS DOUBLE) AS js_div
       |FROM c GROUP BY 1""".stripMargin


  // --------------------------------------------------------- pii redaction
  // The synthetic corpus carries no PII, so the query plants a
  // deterministic contact block per document (email + phone + CPF derived
  // from doc_id) and scrubs it — both engines synthesize and redact the
  // identical text, verifying the regex semantics end to end.
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Redaction
    val synth = concat(
      substring(col("text"), 1, 40),
      lit(" Contact: user"), col("doc_id").cast("string"),
      lit("@example.com or +55 11 98765-43"),
      lpad((col("doc_id") % 100).cast("string"), 2, "0"),
      lit(" CPF 123.456.789-0"), (col("doc_id") % 10).cast("string"))
    t(s, dir, "documents").select(
      col("doc_id"),
      Redaction.countMatches(synth, Redaction.EmailPattern).as("n_emails"),
      Redaction.countMatches(synth, Redaction.PhonePattern).as("n_phones"),
      Redaction.countMatches(synth, Redaction.CpfPattern).as("n_cpfs"),
      Redaction.redactAll(synth).as("redacted"))
  }

  val qPiiRedactSql: String = {
    import graft.functions.Redaction
    val synth =
      "substr(text, 1, 40) || ' Contact: user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or +55 11 98765-43' || " +
        "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || " +
        "' CPF 123.456.789-0' || CAST(doc_id % 10 AS VARCHAR)"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(s, '${Redaction.EmailPattern}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(s, '${Redaction.PhonePattern}')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(s, '${Redaction.CpfPattern}')) AS INT) AS n_cpfs,
       |  regexp_replace(regexp_replace(regexp_replace(s,
       |    '${Redaction.EmailPattern}', '<EMAIL>', 'g'),
       |    '${Redaction.PhonePattern}', '<PHONE>', 'g'),
       |    '${Redaction.CpfPattern}', '<CPF>', 'g') AS redacted
       |FROM (SELECT doc_id, $synth AS s FROM documents)""".stripMargin
  }

  // --------------------------------------------------------------- tf-idf
  // Keyword extraction: top-3 characteristic terms per document. Ranking
  // uses the raw double score (ties on identical (tf, df) pairs break on
  // the term name); the compared projection drops the float itself — a
  // JVM-vs-DuckDB libm ln() can differ sub-ulp, and (rank, term, tf, df)
  // determine the score exactly for fixed N anyway.
  def qTfidf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.topTerms(t(s, dir, "documents"), "doc_id", "text", 3)
      .drop("tfidf")

  val qTfidfSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(ws) AS term FROM (
       |      SELECT doc_id, regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents) d)
       |  WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    CAST(tf AS DOUBLE) * ln(n.n / CAST(df AS DOUBLE)) AS tfidf
       |  FROM tf JOIN idf USING (term) CROSS JOIN n)
       |SELECT doc_id, rank, term, tf, df FROM (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin


  // ------------------------------------------------------ weighted sample
  // Soft quality filtering: each document survives with probability equal
  // to its quality score (clamped [0,1]) via the deterministic md5-bucket
  // decision — the softer curation rule used when a hard threshold hurts
  // corpus diversity. The oracle replays the identical score arithmetic
  // (the q_text_stats quality fragment) and bucket fold.
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("text"))
    graft.operators.Sampling.weightedSample(
        docs, "doc_id", TextFunctions.qualityScore(col("text")), SampleBuckets)
      .select(col("doc_id"), col("lang"))
  }

  val qWeightedSampleSql: String =
    s"""WITH ${sqlQualityCtes("documents", "text", Seq("lang"))}
       |SELECT doc_id, lang FROM qw
       |WHERE ${sqlHexFold("doc_id")} % $SampleBuckets <
       |  CAST(FLOOR(least(1.0, greatest(0.0, qual)) * $SampleBuckets) AS BIGINT)""".stripMargin

  // ----------------------------------------------------- quality histogram
  // The measurement pass before thresholding: 20-bin histogram of the
  // quality score over [0, 1). Bin arithmetic is the same double
  // expression on both engines; integer bin indices, occupied bins only.
  private val HistBins = 20

  def qQualityHist(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusReport.scoreHistogram(
      t(s, dir, "documents"),
      TextFunctions.qualityScore(col("text")), HistBins)

  val qQualityHistSql: String = {
    val w = 1.0 / HistBins
    s"""WITH ${sqlQualityCtes("documents", "text", Nil)}
       |SELECT bin, 0.0 + CAST(bin AS DOUBLE) * $w AS lo_edge,
       |       count(*) AS n
       |FROM (SELECT LEAST(${HistBins - 1}, GREATEST(0,
       |        CAST(floor((qual - 0.0) / 1.0 * $HistBins) AS BIGINT))) AS bin
       |      FROM qw WHERE qual IS NOT NULL)
       |GROUP BY bin""".stripMargin
  }

  // ------------------------------------------------------- strata report
  // Per-language curation report: doc count, total tokens, decimal-exact
  // mean quality (summed in DECIMAL so aggregation order cannot perturb
  // the mean the filters would then be calibrated against).
  def qStrataReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusReport.strataReport(
      t(s, dir, "documents"), "lang", "text")

  val qStrataReportSql: String =
    s"""WITH ${sqlQualityCtes("documents", "text", Seq("lang"))},
       |q AS (SELECT lang, n_tokens,
       |        CAST(qual AS DECIMAL(20,12)) AS qd FROM qw)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(qd) AS DOUBLE) / CAST(count(qd) AS DOUBLE) AS avg_quality
       |FROM q GROUP BY lang""".stripMargin

  // --------------------------------------------------------- top fraction
  // Calibrated per-stratum selection: keep the best half of every
  // language by quality score (FineWeb-style "top X% per domain").
  // frac = 0.5 is exact in binary so ceil(frac * n) cannot diverge
  // between engines on representation noise.
  private val TopFrac = 0.5

  def qTopFraction(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.qualityScore(col("text")).as("qual"))
    graft.operators.Sampling.keepTopFraction(
        scored, "doc_id", "qual", Seq("lang"), TopFrac)
      .select(col("doc_id"), col("lang"))
  }

  val qTopFractionSql: String =
    s"""WITH ${sqlQualityCtes("documents", "text", Seq("lang"))}
       |SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY qual DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM qw)
       |WHERE rn <= ceil($TopFrac * n)""".stripMargin

  // ------------------------------------------------------- gopher quality
  // Gopher-style document-quality rules (public paper thresholds narrowed
  // so both keep outcomes occur on the synthetic corpus): word-count
  // bounds, mean word length, symbol density, alphabetic-word fraction,
  // stopword floor. Metrics ride along with the verdict so the oracle
  // hash checks the arithmetic, not just the final booleans.
  private[graft] val Gopher = graft.operators.QualityFilter.GopherThresholds(
    minWords = 30, maxWords = 90, minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
    maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopHits = 2)

  def qGopherQuality(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityFilter.gopherStats(
      t(s, dir, "documents"), "doc_id", "text", Gopher)

  val qGopherQualitySql: String = {
    val stopScore = sqlLangScore("(' ' || sl || ' ')",
      graft.operators.QualityFilter.StopMarkers)
    s"""WITH c AS (SELECT doc_id, ${sqlCollapse("text")} AS s,
       |             ${sqlCollapse("lower(text)")} AS sl FROM documents),
       |m AS (SELECT doc_id, s, ${sqlTokens("s")} AS n_words,
       |        $stopScore AS stop_hits
       |      FROM c),
       |g AS (SELECT doc_id, n_words, stop_hits,
       |  CASE WHEN n_words = 0 THEN 0.0
       |       ELSE CAST(length(s) - (n_words - 1) AS DOUBLE)
       |            / CAST(n_words AS DOUBLE) END AS mean_word_len,
       |  CASE WHEN n_words = 0 THEN 0.0
       |       ELSE CAST((length(s) - length(replace(s, '#', ''))) / 1
       |               + (length(s) - length(replace(s, '...', ''))) / 3 AS DOUBLE)
       |            / CAST(n_words AS DOUBLE) END AS symbol_ratio,
       |  CASE WHEN n_words = 0 THEN 0.0
       |       ELSE CAST(len(list_filter(regexp_split_to_array(s, ' '),
       |                    w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
       |            / CAST(n_words AS DOUBLE) END AS alpha_frac
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  stop_hits,
       |  (n_words BETWEEN ${Gopher.minWords} AND ${Gopher.maxWords})
       |   AND (mean_word_len BETWEEN ${Gopher.minMeanWordLen}
       |          AND ${Gopher.maxMeanWordLen})
       |   AND symbol_ratio <= ${Gopher.maxSymbolRatio}
       |   AND alpha_frac >= ${Gopher.minAlphaFrac}
       |   AND stop_hits >= ${Gopher.minStopHits} AS keep
       |FROM g""".stripMargin
  }


  // ----------------------------------------------------------------- bm25
  // Ranked retrieval over the corpus for a fixed query bag. The compared
  // projection is the ranking plus the integer match profile; the ln-based
  // score itself is dropped (qTfidf's rule — sub-ulp libm differences) and
  // pinned by Bm25Spec instead.
  private val Bm25Terms = Seq("merge", "window", "dup")
  private val Bm25TopK = 100
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25.search(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, Bm25TopK, Bm25K1, Bm25B)
      .drop("score")

  /** Shared BM25 oracle scoring chain (d/dd/m/tf/df/st/sc) — ONE
    * definition of the formula so the single-query and batch oracles
    * can never desynchronize. `matchPred` filters the token stream to
    * the query vocabulary; `scCols` is the sc key projection (the batch
    * form keeps `term` for the per-query join). */
  private def bm25ScoringCtes(matchPred: String, scCols: String): String =
    s"""d AS (SELECT doc_id, ${sqlCollapse("lower(text)")} AS sl
       |      FROM documents),
       |dd AS (SELECT doc_id, sl, ${sqlTokens("sl")} AS dl FROM d),
       |m AS (SELECT doc_id, dl, w AS term FROM (
       |        SELECT doc_id, dl, unnest(string_split(sl, ' ')) AS w
       |        FROM dd)
       |      WHERE $matchPred),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM m GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
       |       FROM dd),
       |sc AS (SELECT $scCols,
       |        CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                      / (CAST(df AS DOUBLE) + 0.5)) *
       |          (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0} /
       |           (CAST(tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B} +
       |             $Bm25B * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
       |               CAST(sum_dl AS DOUBLE))))
       |          AS DECIMAL(20,12)) AS s_term
       |       FROM tf JOIN df USING (term) CROSS JOIN st)""".stripMargin

  val qBm25Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH ${bm25ScoringCtes(s"w IN ($terms)", "doc_id, tf")},
       |agg AS (SELECT doc_id, sum(s_term) AS sd, count(*) AS n_terms,
       |          CAST(sum(tf) AS BIGINT) AS sum_tf
       |        FROM sc GROUP BY doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY sd DESC, doc_id) AS INT)
       |    AS rank,
       |  doc_id, n_terms, sum_tf
       |FROM agg ORDER BY sd DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  // ------------------------------------------------------------ bm25 multi
  // Batch retrieval: two standing queries answered in one corpus pass,
  // per-query ranking. Same compared projection rule as q_bm25.
  private val Bm25Queries =
    Seq(("qa", "merge"), ("qa", "window"), ("qa", "dup"),
      ("qb", "spark"), ("qb", "stream"))
  private val Bm25MultiTopK = 20

  def qBm25Multi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Bm25Queries.toDF("qid", "term")
    graft.operators.Bm25.searchMany(t(s, dir, "documents"), "doc_id",
        "text", q, "qid", "term", Bm25MultiTopK, Bm25K1, Bm25B)
      .drop("score")
  }

  val qBm25MultiSql: String = {
    val values = Bm25Queries.map { case (q, t) => s"('$q', '$t')" }
      .mkString(", ")
    s"""WITH q(qid, term) AS (VALUES $values),
       |${bm25ScoringCtes("w IN (SELECT DISTINCT term FROM q)",
          "doc_id, term, tf")},
       |agg AS (SELECT qid, doc_id, sum(s_term) AS sd, count(*) AS n_terms,
       |          CAST(sum(tf) AS BIGINT) AS sum_tf
       |        FROM sc JOIN q USING (term) GROUP BY qid, doc_id)
       |SELECT qid AS query_id, rank, doc_id, n_terms, sum_tf FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY sd DESC, doc_id) AS INT) AS rank
       |  FROM agg) WHERE rank <= $Bm25MultiTopK""".stripMargin
  }

  // ------------------------------------------------------------ bigram lm
  // Bigram-LM self-scoring: the compared projection is the integer count
  // profile (bigram counts, context totals, unseen count) — every join
  // and aggregation in the operator is checked exactly; the ln-based
  // avg_logprob is dropped (qTfidf's rule) and pinned by NgramLmSpec.
  def qNgramLm(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.selfScore(t(s, dir, "documents"),
        "doc_id", "text")
      .drop("avg_logprob")

  val qNgramLmSql: String =
    s"""WITH c AS (SELECT doc_id, ${sqlCollapse("lower(text)")} AS sl
       |           FROM documents),
       |bg AS (SELECT doc_id,
       |        unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
       |        unnest(list_transform(range(1, len(a)), i -> a[i+1])) AS w2
       |       FROM (SELECT doc_id, string_split(sl, ' ') AS a FROM c)),
       |m AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM m GROUP BY w1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(c12) AS BIGINT) AS sum_c12,
       |  CAST(sum(c1) AS BIGINT) AS sum_c1,
       |  CAST(0 AS BIGINT) AS n_unseen
       |FROM bg JOIN m USING (w1, w2) JOIN ctx USING (w1)
       |GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------------- pmi
  // PMI collocation mining: top adjacent pairs by pointwise mutual
  // information. The compared projection is the ranking plus the
  // integer count profile; the ln-based pmi is dropped (qBm25's rule,
  // decimal-rounded before ranking on both engines).
  private val PmiMinPairCount = 2L
  private val PmiTopK = 50

  def qPmi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccurrence.pmi(t(s, dir, "documents"), "text",
        PmiMinPairCount, PmiTopK)
      .drop("pmi")

  val qPmiSql: String =
    s"""WITH c AS (SELECT ${sqlCollapse("lower(text)")} AS sl
       |           FROM documents),
       |a AS (SELECT string_split(sl, ' ') AS a FROM c),
       |u AS (SELECT w, count(*) AS c FROM
       |        (SELECT unnest(a) AS w FROM a) GROUP BY w),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
       |bg AS (SELECT
       |        unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
       |        unnest(list_transform(range(1, len(a)), i -> a[i+1])) AS w2
       |       FROM a),
       |p AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
       |      HAVING count(*) >= $PmiMinPairCount),
       |sc AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
       |         CAST(ln(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE) /
       |              (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)))
       |           AS DECIMAL(20,12)) AS pmi
       |       FROM p JOIN u u1 ON u1.w = p.w1
       |         JOIN u u2 ON u2.w = p.w2 CROSS JOIN n)
       |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT)
       |    AS rank,
       |  w1, w2, c12, c1, c2
       |FROM sc ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  // ------------------------------------------------------------- dsir
  // DSIR importance reweighting: hashed-ngram LLR against the English
  // subset as the target distribution, then top-quarter selection per
  // language ([[Sampling.keepTopFraction]]). Compared projection is the
  // selected set with its integer feature profile; the ln-based score
  // is decimal-rounded per bucket before any sum (qBm25's rule).
  private val DsirHexDigits = 3
  private val DsirAlpha = 1.0
  private val DsirFrac = 0.25
  private val DsirTargetLang = "en"

  def qDsir(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.ImportanceWeights.scoreAgainstTarget(
      t(s, dir, "documents"), "doc_id", "text",
      col("lang") === DsirTargetLang, DsirHexDigits, DsirAlpha,
      carry = Seq("lang"))
    graft.operators.Sampling.keepTopFraction(
        scored, "doc_id", "score", Seq("lang"), DsirFrac)
      .select(col("doc_id"), col("lang"), col("n_feats"), col("n_scored"))
  }

  val qDsirSql: String = {
    val b = math.pow(16.0, DsirHexDigits)
    val aB = DsirAlpha * b
    s"""WITH c AS (SELECT doc_id, lang, ${sqlCollapse("lower(text)")} AS sl
       |           FROM documents),
       |t AS (SELECT doc_id, lang, string_split(sl, ' ') AS a FROM c),
       |fb AS (SELECT doc_id, lang, substr(md5(feat), 1, $DsirHexDigits)
       |           AS bucket
       |       FROM (SELECT doc_id, lang, unnest(list_concat(a,
       |               list_transform(range(1, len(a)),
       |                 i -> a[i] || ' ' || a[i+1]))) AS feat
       |             FROM t)),
       |tc AS (SELECT bucket, count(*) AS tcnt FROM fb
       |       WHERE lang = '$DsirTargetLang' GROUP BY bucket),
       |rc AS (SELECT bucket, count(*) AS rcnt FROM fb GROUP BY bucket),
       |tot AS (SELECT
       |          COALESCE((SELECT CAST(sum(tcnt) AS BIGINT) FROM tc), 0)
       |            AS tt,
       |          COALESCE((SELECT CAST(sum(rcnt) AS BIGINT) FROM rc), 0)
       |            AS rt),
       |lr AS (SELECT bucket,
       |         CAST(ln((CAST(COALESCE(tcnt, 0) AS DOUBLE) + $DsirAlpha) /
       |                 (CAST(tt AS DOUBLE) + $aB)) -
       |              ln((CAST(COALESCE(rcnt, 0) AS DOUBLE) + $DsirAlpha) /
       |                 (CAST(rt AS DOUBLE) + $aB))
       |           AS DECIMAL(20,12)) AS llr
       |       FROM tc FULL OUTER JOIN rc USING (bucket) CROSS JOIN tot),
       |db AS (SELECT doc_id, lang, bucket, count(*) AS nb FROM fb
       |       GROUP BY doc_id, lang, bucket),
       |sc AS (SELECT doc_id, lang, CAST(sum(nb) AS BIGINT) AS n_feats,
       |         CAST(sum(nb) AS BIGINT) AS n_scored,
       |         CAST(sum(CAST(nb AS DECIMAL(10,0)) * llr)
       |           AS DECIMAL(38,12)) AS score
       |       FROM db JOIN lr USING (bucket) GROUP BY doc_id, lang),
       |sel AS (SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY score DESC, doc_id) AS rn,
       |          count(*) OVER (PARTITION BY lang) AS nl
       |        FROM sc)
       |SELECT doc_id, lang, n_feats, n_scored FROM sel
       |WHERE rn <= ceil($DsirFrac * nl)""".stripMargin
  }


  // ------------------------------------------------------ percentile rank
  // Per-language percentile normalization of the quality score — the
  // cross-stratum-comparable form. (rank-1)/(n-1) is integer-derived
  // IEEE division, so unlike the ln-based scores the pct doubles ARE
  // hash-compared; ordering by qual is engine-safe because qualityScore
  // is built from exact-rounded ops only (q_top_fraction's precedent).
  def qPctRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusReport.percentileRank(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("qual")),
        col("qual"), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("pct"))

  // percent_rank() is the same (rank-1)/(n-1) IEEE division with the
  // same singleton-0.0 guard in both engines; the NULL filter mirrors
  // percentileRank's drop contract (q_quality_hist's precedent)
  val qPctRankSql: String =
    s"""WITH ${sqlQualityCtes("documents", "text", Seq("lang"))}
       |SELECT doc_id, lang,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY qual ASC) AS pct
       |FROM qw WHERE qual IS NOT NULL""".stripMargin
  // ------------------------------------------------------ lexical stats
  // Lexical diversity per document: type-token ratio and hapax-legomena
  // fraction — the vocabulary-richness signals quality pipelines pair
  // with the stopword/length scores (templated spam has low TTR; OCR
  // noise has high hapax). Integer counts, two fixed-shape ratios.
  def qLexicalStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(TextFunctions.normalize(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        count_if(col("c") === 1).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_frac"))

  val qLexicalStatsSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(ws) AS term FROM (
       |      SELECT doc_id,
       |        regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents) d)
       |  WHERE term <> ''),
       |tc AS (SELECT doc_id, term, count(*) AS c FROM terms GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  count(*) AS n_types,
       |  CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
       |  CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
       |    AS ttr,
       |  CAST(count(*) FILTER (c = 1) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS hapax_frac
       |FROM tc GROUP BY 1""".stripMargin

  // ------------------------------------------------------- vocab coverage
  // Tokenizer-sizing report: per-source token totals and the fraction a
  // frequency-≥-K vocabulary would miss (TokenCoverage.oovReport). The
  // vocabulary is corpus-derived, so it is joined (not broadcast) — the
  // scale-safe shape; AQE may still broadcast it when it's small.
  private val VocabMinCount = 40L

  def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.operators.TokenCoverage.oovReport(
      t(s, dir, "documents"), "source", "text", VocabMinCount)

  val qVocabCoverageSql: String =
    s"""WITH c AS (SELECT source, ${sqlCollapse("lower(text)")} AS sl
       |  FROM documents WHERE source IS NOT NULL),
       |tk AS (SELECT source AS g, unnest(string_split(sl, ' ')) AS term
       |  FROM c),
       |pg AS (SELECT g, term, count(*) AS c_gt
       |  FROM tk WHERE term <> '' GROUP BY 1, 2),
       |v AS (SELECT term FROM (
       |    SELECT term, sum(c_gt) AS c_t FROM pg GROUP BY 1)
       |  WHERE c_t >= $VocabMinCount),
       |j AS (SELECT pg.g, pg.c_gt, v.term AS vt
       |  FROM pg LEFT JOIN v ON pg.term = v.term)
       |SELECT g AS source,
       |  CAST(sum(c_gt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN vt IS NULL THEN c_gt ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST(sum(CASE WHEN vt IS NULL THEN c_gt ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(c_gt) AS DOUBLE) AS oov_rate
       |FROM j GROUP BY g""".stripMargin

  // --------------------------------------------------------- char entropy
  // Shannon entropy of each document's character distribution
  // (QualityFilter.charEntropy) — the oracle-checked twin of the
  // spec-only deflate compress_ratio signal. Integer counts, p·ln p
  // contributions rounded DECIMAL(20,12) before the order-independent
  // sum, one /ln2 double division at the end.
  def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityFilter.charEntropy(
      t(s, dir, "documents"), "doc_id", "text")

  val qCharEntropySql: String =
    s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM documents),
       |cc AS (SELECT doc_id, ch, count(*) AS c
       |  FROM ch WHERE ch <> '' GROUP BY 1, 2),
       |wn AS (SELECT doc_id, c,
       |    sum(c) OVER (PARTITION BY doc_id) AS n FROM cc),
       |co AS (SELECT doc_id, n, CAST(
       |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS DECIMAL(20,12)) AS contrib
       |  FROM wn)
       |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_counted,
       |  count(*) AS n_distinct_chars,
       |  CAST(-sum(contrib) AS DOUBLE) / ${graft.operators.QualityFilter.Ln2}
       |    AS entropy_bits
       |FROM co GROUP BY 1""".stripMargin

  // --------------------------------------------------- tokenizer fertility
  // Per-language tokenizer fertility (BPE-ish tokens per whitespace
  // word) and compression (bytes per token) — the standard readout for
  // "how expensive is this language under this tokenizer" when
  // balancing a multilingual training mixture. All counts are exact
  // integer sums; the two ratios are single double divisions.
  // The whitespace class is written out explicitly ([^ \t\n\r]+) so
  // Java regex (Spark) and RE2 (DuckDB) agree on every code point —
  // \S straddles \x0B between the two engines.
  private val FertilityBpe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  private val FertilityWord = "[^ \\t\\n\\r]+"

  def qFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(expr(s"regexp_extract_all(text, '$FertilityBpe', 0)"))
          .cast("long").as("tk"),
        size(expr(s"regexp_extract_all(text, '$FertilityWord', 0)"))
          .cast("long").as("wd"),
        octet_length(col("text")).cast("long").as("bt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("wd")).as("n_words"),
        sum(col("tk")).as("n_tokens"),
        sum(col("bt")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_bytes"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_bytes").cast("double") / col("n_tokens").cast("double"))
          .as("bytes_per_token"))

  val qFertilitySql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    len(regexp_extract_all(text, '$FertilityBpe')) AS tk,
       |    len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS wd,
       |    octet_length(CAST(text AS BLOB)) AS bt
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(wd) AS BIGINT) AS n_words,
       |  CAST(sum(tk) AS BIGINT) AS n_tokens,
       |  CAST(sum(bt) AS BIGINT) AS n_bytes,
       |  CAST(sum(tk) AS DOUBLE) / CAST(sum(wd) AS DOUBLE) AS fertility,
       |  CAST(sum(bt) AS DOUBLE) / CAST(sum(tk) AS DOUBLE)
       |    AS bytes_per_token
       |FROM d GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- mojibake
  // Encoding-anomaly screen (operators.EncodingScreen): replacement
  // chars, stray controls, UTF-8-as-Latin-1/cp1252 digraphs. Known
  // positives are synthesized deterministically (every 13th doc gets
  // one U+FFFD, one BEL, and two mojibake digraphs appended on BOTH
  // sides) so the screen is exercised on non-zero counts, not an
  // all-clean corpus. The digraph class is generated from shared code
  // points — \uXXXX for Java regex, \x{XXXX} for RE2.
  def qMojibake(s: SparkSession, dir: String): DataFrame = {
    val token = " \uFFFD\u00C3\u00A9\u00E2\u20AC\u2122\u0007"
    val dirty = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(token)))
        .otherwise(col("text")).as("text"))
    graft.operators.EncodingScreen.screen(dirty, "doc_id", "text")
  }

  val qMojibakeSql: String = {
    val tok = "' ' || chr(65533) || chr(195) || chr(169) || chr(226)" +
      " || chr(8364) || chr(8482) || chr(7)"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN text || $tok ELSE text END
       |      AS text
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    CAST(length(text) - length(translate(text, chr(65533), ''))
       |      AS BIGINT) AS n_replacement,
       |    CAST(len(regexp_extract_all(text,
       |      '${graft.operators.EncodingScreen.ctrlPattern}'))
       |      AS BIGINT) AS n_ctrl,
       |    CAST(len(regexp_extract_all(text,
       |      '${graft.operators.EncodingScreen.mojiPatternRe2}'))
       |      AS BIGINT) AS n_moji
       |  FROM d)
       |SELECT doc_id, n_replacement, n_ctrl, n_moji,
       |  (n_replacement > 0 OR n_ctrl > 0 OR n_moji > 0) AS is_suspect
       |FROM c""".stripMargin
  }

  // ------------------------------------------------------------- registry
  // (the dedup-prep and denoising-objective families live in
  // QueriesTextDedup / QueriesTextObjectives)
  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_vocab_coverage", qVocabCoverage, qVocabCoverageSql),
    Query("q_char_entropy", qCharEntropy, qCharEntropySql),
    Query("q_lexical_stats", qLexicalStats, qLexicalStatsSql),
    Query("q_fertility", qFertility, qFertilitySql),
    Query("q_mojibake", qMojibake, qMojibakeSql),
    Query("q_text_stats", qTextStats, qTextStatsSql),
    Query("q_lang_id", qLangId, qLangIdSql),
    Query("q_langid_kappa", qLangIdKappa, qLangIdKappaSql),
    Query("q_tfidf", qTfidf, qTfidfSql),
    Query("q_js_div", qJsDiv, qJsDivSql),
    Query("q_readability", qReadability, qReadabilitySql),
    Query("q_pii_redact", qPiiRedact, qPiiRedactSql),
    Query("q_gopher_quality", qGopherQuality, qGopherQualitySql),
    Query("q_weighted_sample", qWeightedSample, qWeightedSampleSql),
    Query("q_top_fraction", qTopFraction, qTopFractionSql),
    Query("q_quality_hist", qQualityHist, qQualityHistSql),
    Query("q_strata_report", qStrataReport, qStrataReportSql),
    Query("q_bm25", qBm25, qBm25Sql),
    Query("q_bm25_multi", qBm25Multi, qBm25MultiSql),
    Query("q_ngram_lm", qNgramLm, qNgramLmSql),
    Query("q_pmi", qPmi, qPmiSql),
    Query("q_dsir", qDsir, qDsirSql),
    Query("q_pct_rank", qPctRank, qPctRankSql),
  )
}
