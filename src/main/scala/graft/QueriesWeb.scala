package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NormalizeExpr, UrlFunctions}
import graft.operators.DomainOps

/** Beyond-reference query group: web-crawl URL curation and Unicode
  * canonicalization — the front edge of a training-data pipeline
  * (domain accounting, blocklists, per-domain quotas, and the text
  * normalization every downstream dedup key depends on).
  *
  * The documents table has no URL column, so each query derives a
  * deterministic URL from (source, doc_id) with the SAME concat
  * expression on both engines; the operators under test are the parse /
  * strip / eTLD+1 / blocklist / quota stages applied on top. Every
  * pattern is RE2-safe so the DuckDB oracle runs the byte-identical
  * regex (see UrlFunctions scaladoc).
  */
object QueriesWeb {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Deterministic synthetic URL: domain varies by source, public suffix
    * by doc_id mod 3 (one multi-label UK, one multi-label BR, one plain
    * com), with two tracking params around a real one. */
  private def urlCol =
    concat(
      lit("https://www."), col("source"), lit("-news."),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("co.uk"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("com.br"))
        .otherwise(lit("com")),
      lit("/docs/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&utm_campaign=x"))

  private val urlSql =
    """'https://www.' || source || '-news.' ||
      |      CASE doc_id % 3 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com.br'
      |                      ELSE 'com' END ||
      |      '/docs/' || doc_id || '?utm_source=feed&id=' || doc_id ||
      |      '&utm_campaign=x'""".stripMargin

  /** The multi-label alternation of UrlFunctions.DefaultMultiPartSuffixes,
    * escaped — oracle SQL interpolates the same pattern text. */
  private val multiSuffixPattern =
    UrlFunctions.DefaultMultiPartSuffixes
      .map(_.replace(".", "\\.")).mkString("|")

  private val domainCaseSql =
    s"""CASE WHEN regexp_extract(host,
       |       '([^.]+\\.(?:$multiSuffixPattern))$$', 1) <> ''
       |     THEN regexp_extract(host,
       |       '([^.]+\\.(?:$multiSuffixPattern))$$', 1)
       |     ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END""".stripMargin

  // ------------------------------------------------------------ url parse
  // Host / path / eTLD+1 / tracking-stripped URL, all codegen'd built-ins
  // (parse_url, regexp_*). The oracle re-derives each component with the
  // byte-identical RE2-safe patterns.
  private def qUrlParse(s: SparkSession, dir: String): DataFrame = {
    val u = t(s, dir, "documents").select(col("doc_id"), urlCol.as("url"))
    val h = UrlFunctions.host(col("url"))
    u.select(
      col("doc_id"),
      h.as("host"),
      UrlFunctions.path(col("url")).as("path"),
      UrlFunctions.registrableDomain(h).as("domain"),
      UrlFunctions.stripTracking(col("url")).as("url_clean"))
  }

  private val qUrlParseSql =
    s"""WITH u AS (
       |  SELECT doc_id, $urlSql AS url
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, url,
       |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
       |  FROM u)
       |SELECT doc_id, host,
       |  regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path,
       |  $domainCaseSql AS domain,
       |  regexp_replace(regexp_replace(regexp_replace(url,
       |    '&(utm_|gclid=|fbclid=)[^&#]*', '', 'g'),
       |    '[?](utm_|gclid=|fbclid=)[^&#]*&', '?', 'g'),
       |    '[?](utm_|gclid=|fbclid=)[^&#]*', '', 'g') AS url_clean
       |FROM h""".stripMargin

  // --------------------------------------------------------- domain stats
  // Registrable-domain rollup after a broadcast-anti blocklist: the C4 /
  // RefinedWeb "domain accounting + deny list" stage. The blocklist
  // filter must be invisible in the plan's shuffle count (broadcast).
  private val Blocked =
    Seq("src3-news.com", "src7-news.co.uk", "src11-news.com.br")

  private def qDomainStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), urlCol.as("url"))
    val kept = DomainOps.blocklistFilter(
      DomainOps.withDomain(docs, "url"), "domain", Blocked)
    DomainOps.domainStats(kept, "domain", "n_chars")
  }

  private val qDomainStatsSql =
    s"""WITH u AS (
       |  SELECT doc_id, n_chars, $urlSql AS url
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, n_chars,
       |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
       |  FROM u),
       |d AS (
       |  SELECT doc_id, n_chars, $domainCaseSql AS domain FROM h)
       |SELECT domain, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM d
       |WHERE domain NOT IN ('${Blocked.mkString("','")}')
       |GROUP BY domain""".stripMargin

  // --------------------------------------------------------- domain quota
  // Per-domain cap: keep the 5 longest documents per registrable domain
  // (deterministic doc_id tiebreak) — the "no single site dominates the
  // mix" stage. One window shuffle on the domain key.
  private val QuotaDocs = 5

  private def qDomainQuota(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), urlCol.as("url"))
    DomainOps.domainQuota(
      DomainOps.withDomain(docs, "url"),
      "domain", QuotaDocs, orderCol = "n_chars", idCol = "doc_id")
      .select(col("doc_id"), col("domain"), col("n_chars"))
  }

  private val qDomainQuotaSql =
    s"""WITH u AS (
       |  SELECT doc_id, n_chars, $urlSql AS url
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, n_chars,
       |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
       |  FROM u),
       |d AS (
       |  SELECT doc_id, n_chars, $domainCaseSql AS domain FROM h)
       |SELECT doc_id, domain, n_chars
       |FROM d
       |QUALIFY row_number() OVER (
       |  PARTITION BY domain ORDER BY n_chars DESC, doc_id) <= $QuotaDocs""".stripMargin

  // ----------------------------------------------------------- domain psl
  // Data-driven public-suffix-list eTLD+1 (DomainOps.withDomainFromSuffixes)
  // with NESTED rules — pvt.k12.ma.us inside k12.ma.us inside ma.us, and
  // blogspot.co.uk inside co.uk — so the oracle pins the PSL
  // prevailing-rule contract: the LONGEST matched suffix wins. The Spark
  // side resolves suffixes via broadcast joins per candidate length; the
  // oracle re-derives them with longest-first regex alternations —
  // independent mechanisms, same semantics.
  private val PslSuffixes = Seq(
    "co.uk", "blogspot.co.uk", "ma.us", "k12.ma.us", "pvt.k12.ma.us",
    "com.br")

  /** Suffix choice spreads doc_ids over nested rules: 0 → plain co.uk,
    * 1 → private-registry blogspot.co.uk, 2 → 4-label pvt.k12.ma.us,
    * 3 → k12.ma.us, else bare com (implicit-TLD fallback). */
  private def pslUrlCol =
    concat(
      lit("https://www."), col("source"), lit("-news."),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("co.uk"))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit("blogspot.co.uk"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit("pvt.k12.ma.us"))
        .when(pmod(col("doc_id"), lit(5)) === 3, lit("k12.ma.us"))
        .otherwise(lit("com")),
      lit("/docs/"), col("doc_id").cast("string"))

  private val pslUrlSql =
    """'https://www.' || source || '-news.' ||
      |      CASE doc_id % 5 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'blogspot.co.uk'
      |                      WHEN 2 THEN 'pvt.k12.ma.us' WHEN 3 THEN 'k12.ma.us'
      |                      ELSE 'com' END ||
      |      '/docs/' || doc_id""".stripMargin

  private def qDomainPsl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), pslUrlCol.as("url"))
    val suffixes = PslSuffixes.toDF("suffix")
    DomainOps.withDomainFromSuffixes(docs, "url", suffixes, maxSuffixLabels = 4)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).cast("long").as("min_doc"))
  }

  private val qDomainPslSql =
    s"""WITH u AS (
      |  SELECT doc_id, $pslUrlSql AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
      |  FROM u),
      |d AS (
      |  SELECT doc_id, CASE
      |    WHEN regexp_extract(host, '([^.]+\\.(?:pvt\\.k12\\.ma\\.us))$$', 1) <> ''
      |      THEN regexp_extract(host, '([^.]+\\.(?:pvt\\.k12\\.ma\\.us))$$', 1)
      |    WHEN regexp_extract(host,
      |        '([^.]+\\.(?:blogspot\\.co\\.uk|k12\\.ma\\.us))$$', 1) <> ''
      |      THEN regexp_extract(host,
      |        '([^.]+\\.(?:blogspot\\.co\\.uk|k12\\.ma\\.us))$$', 1)
      |    WHEN regexp_extract(host,
      |        '([^.]+\\.(?:co\\.uk|ma\\.us|com\\.br))$$', 1) <> ''
      |      THEN regexp_extract(host,
      |        '([^.]+\\.(?:co\\.uk|ma\\.us|com\\.br))$$', 1)
      |    ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END AS domain
      |  FROM h)
      |SELECT domain, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS min_doc
      |FROM d GROUP BY domain""".stripMargin

  // --------------------------------------------------------- domain rules
  // Wildcard + exception PSL classes through the SAME data-driven
  // operator, pinned in the oracle gate: *.ck makes ANY label public at
  // the starred position (registrable = base + two labels), !www.ck
  // names its domain registrable ITSELF and overrides the wildcard.
  // Spark resolves via the per-length broadcast joins; the oracle
  // replays exception-first, then wildcard, then the last-2 fallback
  // with plain regexes — independent mechanisms, same PSL algorithm.
  private val RuleSuffixes = Seq("*.ck", "!www.ck", "co.uk")

  private def rulesUrlCol =
    concat(
      lit("https://www."), col("source"), lit("-news."),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("x7.ck"))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("www.ck"))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("co.uk"))
        .otherwise(lit("com")),
      lit("/p/"), col("doc_id").cast("string"))

  private val rulesUrlSql =
    """'https://www.' || source || '-news.' ||
      |      CASE doc_id % 4 WHEN 0 THEN 'x7.ck' WHEN 1 THEN 'www.ck'
      |                      WHEN 2 THEN 'co.uk' ELSE 'com' END ||
      |      '/p/' || doc_id""".stripMargin

  private def qDomainRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), rulesUrlCol.as("url"))
    DomainOps.withDomainFromSuffixes(docs, "url",
        RuleSuffixes.toDF("suffix"), maxSuffixLabels = 4)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).cast("long").as("min_doc"))
  }

  private val qDomainRulesSql =
    s"""WITH u AS (
      |  SELECT doc_id, $rulesUrlSql AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
      |  FROM u),
      |d AS (
      |  SELECT doc_id, CASE
      |    -- exception rule: !www.ck -> www.ck is registrable itself
      |    WHEN host = 'www.ck' OR host LIKE '%.www.ck' THEN 'www.ck'
      |    -- wildcard rule: *.ck -> <label>.ck is public, +1 label registrable
      |    WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1) <> ''
      |      THEN regexp_extract(host, '([^.]+\\.[^.]+\\.ck)$$', 1)
      |    -- plain rule: co.uk
      |    WHEN regexp_extract(host, '([^.]+\\.co\\.uk)$$', 1) <> ''
      |      THEN regexp_extract(host, '([^.]+\\.co\\.uk)$$', 1)
      |    ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END AS domain
      |  FROM h)
      |SELECT domain, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS min_doc
      |FROM d GROUP BY domain""".stripMargin

  // ---------------------------------------------------------- unicode nfc
  // NFC canonicalization via the native UnicodeNormalize expression: a
  // decomposed suffix (e + U+0301, n + U+0303) is appended to each text
  // prefix, so raw and NFC lengths must differ by exactly the two
  // combining marks. Oracle: DuckDB nfc_normalize (both sides implement
  // UAX#15 NFC). NFKC/NFKD have no DuckDB counterpart — they are pinned
  // in NormalizeExprSpec with published UAX#15 vectors instead.
  private def qUnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(substring(col("text"), 1, 12), lit("e\u0301n\u0303"))
    val nfc = NormalizeExpr.unicode_normalize(raw, "NFC")
    t(s, dir, "documents").select(
      col("doc_id"),
      nfc.as("s_nfc"),
      length(raw).cast("long").as("len_raw"),
      length(nfc).cast("long").as("len_nfc"))
  }

  private val qUnicodeNfcSql =
    """WITH r AS (
      |  SELECT doc_id,
      |    substring(text, 1, 12) || 'e' || chr(769) || 'n' || chr(771) AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  nfc_normalize(raw) AS s_nfc,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
      |FROM r""".stripMargin

  // ------------------------------------------------------------------ maps
  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_url_parse", qUrlParse, qUrlParseSql),
    Query("q_domain_stats", qDomainStats, qDomainStatsSql),
    Query("q_domain_quota", qDomainQuota, qDomainQuotaSql),
    Query("q_domain_psl", qDomainPsl, qDomainPslSql),
    Query("q_domain_rules", qDomainRules, qDomainRulesSql),
    Query("q_unicode_nfc", qUnicodeNfc, qUnicodeNfcSql),
  )
}
