package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Boilerplate, BloomPrefilter, Packing, Quantiles, RangeJoin, RepeatedSpans, RepetitionStats, Sampling, Triangles}
import graft.similarity.Centroids

/** Beyond-reference query group: the scale-technique operators — banded
  * range join, Bloom-prefiltered semi-join, relational k-means centroids,
  * repetition-based quality signals, and pivot. Each query's oracle is
  * the *naive* relational form (plain BETWEEN join, plain IN-subquery),
  * so the driver compare proves the scale-shaped plan is lossless.
  */
object QueriesScale {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------- range join
  // Banded equi-join replacement for BETWEEN (RangeJoin.scala): lineitem
  // prices within +-0.5 of a part's retail price. The oracle is the plain
  // range join — the band decomposition must be invisible in the result.
  private val Tol = 0.5
  private val BandWidth = 1.0

  private def qRangeJoin(s: SparkSession, dir: String): DataFrame =
    RangeJoin.toleranceJoin(
      t(s, dir, "lineitem"), t(s, dir, "part"),
      "l_extendedprice", "p_retailprice", Tol, BandWidth)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_extendedprice"), col("p_retailprice"))

  private val qRangeJoinSql =
    s"""SELECT l_orderkey, l_linenumber, p_partkey,
       |  l_extendedprice, p_retailprice
       |FROM lineitem JOIN part
       |  ON l_extendedprice BETWEEN p_retailprice - $Tol
       |                         AND p_retailprice + $Tol""".stripMargin

  // ------------------------------------------------------ bloom semi-join
  // Bloom-prefiltered exact semi-join (BloomPrefilter.scala): lineitem
  // rows restricted to high-value orders, then aggregated. The oracle is
  // the plain IN-subquery — false positives must be gone from the result.
  private val HighValue = 400000.0

  private def qBloomSemi(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir, "orders")
      .filter(col("o_totalprice") > HighValue)
      .select(col("o_orderkey"))
    BloomPrefilter.semiJoin(
      t(s, dir, "lineitem"), "l_orderkey", hot, "o_orderkey",
      expectedItems = 1 << 20)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
  }

  private val qBloomSemiSql =
    s"""SELECT l_returnflag, count(*) AS n,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM lineitem
       |WHERE l_orderkey IN
       |  (SELECT o_orderkey FROM orders WHERE o_totalprice > $HighValue)
       |GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ centroids
  // Relational k-means recompute step (Centroids.dimSumsFixedPoint):
  // per-(label, dimension) sums in ulp-exact fixed point — floats scaled
  // by 2^48 are exact integers (power-of-two scaling only shifts the
  // exponent), so the sums are bit-equal on every engine with no decimal
  // rounding step at all. True sum = dim_sum_fp / 2^48, losslessly.
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    Centroids.dimSumsFixedPoint(t(s, dir, "embeddings"), "label", "embedding")

  private val qCentroidsSql =
    """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS i,
      |    unnest(embedding) AS x FROM embeddings)
      |SELECT label, CAST(i - 1 AS INTEGER) AS pos,
      |  CAST(SUM(CAST(CAST(x AS DOUBLE) * 281474976710656.0 AS BIGINT))
      |       AS BIGINT) AS dim_sum_fp,
      |  count(*) AS n
      |FROM e GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------- repetition
  // Gopher-style repetition quality signals (RepetitionStats.scala) —
  // exact integer counts + ppm ratio, no float thresholds.
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    RepetitionStats.stats(t(s, dir, "documents"), "doc_id", "text")

  private val qRepetitionSql =
    """WITH c AS (SELECT doc_id,
      |  regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
      |  FROM documents),
      |u AS (SELECT doc_id, unnest(ws) AS w FROM c
      |      WHERE len(ws) > 0 AND ws[1] <> ''),
      |uc AS (SELECT doc_id, w, count(*) AS cnt FROM u GROUP BY 1, 2),
      |us AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
      |       count(*) AS n_distinct, max(cnt) AS top_word_cnt
      |       FROM uc GROUP BY 1),
      |bw AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
      |       FROM c),
      |b AS (SELECT doc_id,
      |        w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS g
      |      FROM bw QUALIFY g IS NOT NULL),
      |bc AS (SELECT doc_id, g, count(*) AS cnt FROM b GROUP BY 1, 2),
      |bs AS (SELECT doc_id, max(cnt) AS top_bigram_cnt FROM bc GROUP BY 1)
      |SELECT us.doc_id, n_words, n_distinct, top_word_cnt, top_bigram_cnt,
      |  CAST(top_word_cnt * 1000000 // n_words AS BIGINT) AS top_word_ppm
      |FROM us JOIN bs ON us.doc_id = bs.doc_id""".stripMargin

  // ---------------------------------------------------------------- pivot
  // Wide-format corpus composition: documents per (source, lang) as a
  // pivot with an explicit value list (no driver-side distinct scan).
  private val Langs = Seq("de", "en", "es", "fr", "zh")

  private def qPivotLang(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source")).pivot("lang", Langs).count()
      .na.fill(0L, Langs)

  private val qPivotLangSql = {
    val arms = Langs.map(l =>
      s"count(CASE WHEN lang = '$l' THEN 1 END) AS $l").mkString(",\n  ")
    s"SELECT source,\n  $arms\nFROM documents GROUP BY source"
  }

  // --------------------------------------------------------- overlap join
  // Interval-overlap self-join via the banded first-shared-band trick
  // (RangeJoin.overlapJoin): orders of the same customer whose 2-day
  // activity windows intersect. Banding runs on exact integer epoch-days;
  // the oracle is the naive non-equi self-join in timestamp arithmetic.
  private def qOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .withColumn("lo",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
      .withColumn("hi", col("lo") + lit(2))
    val a = base.select(col("o_custkey"), col("o_orderkey").as("a_orderkey"),
      col("o_orderdate").as("a_date"), col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = base.select(col("o_custkey"), col("o_orderkey").as("b_orderkey"),
      col("o_orderdate").as("b_date"), col("lo").as("b_lo"), col("hi").as("b_hi"))
    RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
      width = 3.0, keys = Seq("o_custkey"))
      .filter(col("a_orderkey") < col("b_orderkey"))
      .select(col("o_custkey"), col("a_orderkey"), col("b_orderkey"),
        col("a_date"), col("b_date"))
  }

  private val qOverlapJoinSql =
    """SELECT a.o_custkey, a.o_orderkey AS a_orderkey,
      |  b.o_orderkey AS b_orderkey,
      |  a.o_orderdate AS a_date, b.o_orderdate AS b_date
      |FROM orders a JOIN orders b
      |  ON a.o_custkey = b.o_custkey
      | AND a.o_orderkey < b.o_orderkey
      | AND a.o_orderdate <= b.o_orderdate + INTERVAL 2 DAY
      | AND b.o_orderdate <= a.o_orderdate + INTERVAL 2 DAY""".stripMargin

  // ------------------------------------------------------------ quantiles
  // Exact distributed quantiles by rank-select (Quantiles.exactQuantiles):
  // integer ranks + passthrough values + deterministic tiebreak = engine-
  // portable with no interpolation arithmetic. percentile_approx is the
  // sketch-based scale path (spec-verified against these exact values).
  private val Ps = Seq(0.25, 0.5, 0.75, 0.95)

  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    Quantiles.exactQuantiles(
      t(s, dir, "events"), "value", "event_id", Seq("event_type"), Ps)

  private val qQuantilesSql = {
    val vals = Ps.map(p => s"(CAST($p AS DOUBLE))").mkString(", ")
    s"""WITH r AS (SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |p AS (SELECT CAST(p AS DOUBLE) AS p FROM (VALUES $vals) t(p))
       |SELECT event_type, p, value AS q
       |FROM r CROSS JOIN p
       |WHERE rn = CAST(ceil(p * n) AS BIGINT)""".stripMargin
  }

  // ---------------------------------------------------------- boilerplate
  // Corpus-common n-gram detection (Boilerplate.stats): per-doc fraction
  // of 3-gram shingles whose corpus document frequency exceeds 2 — the
  // C4-style template/boilerplate curation signal, integer-exact.
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    Boilerplate.stats(t(s, dir, "documents"), "doc_id", "text", 3, 2)

  private val qBoilerplateSql =
    """WITH w AS (SELECT doc_id,
      |    regexp_split_to_array(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
      |  FROM documents),
      |sw AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
      |  FROM w),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      w || ' ' || lead(w) OVER d || ' ' || lead(w, 2) OVER d AS shingle
      |    FROM sw WINDOW d AS (PARTITION BY doc_id ORDER BY i))
      |  WHERE shingle IS NOT NULL),
      |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS common_ppm
      |FROM sh JOIN df USING (shingle) GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------- contamination
  // Train/eval n-gram leakage (Boilerplate.contamination): every 20th
  // document plays the held-out eval set; each remaining (train) doc is
  // scored by how many of its distinct 3-grams appear anywhere in eval.
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Boilerplate.contamination(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", 3)
  }

  private val qContaminationSql =
    """WITH w AS (SELECT doc_id,
      |    regexp_split_to_array(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
      |  FROM documents),
      |sw AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
      |  FROM w),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      w || ' ' || lead(w) OVER d || ' ' || lead(w, 2) OVER d AS shingle
      |    FROM sw WINDOW d AS (PARTITION BY doc_id ORDER BY i))
      |  WHERE shingle IS NOT NULL),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0)
      |SELECT s.doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated,
      |  CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |       // count(*) AS BIGINT) AS contaminated_ppm
      |FROM sh s LEFT JOIN ev ON s.shingle = ev.shingle
      |WHERE s.doc_id % 20 <> 0
      |GROUP BY s.doc_id""".stripMargin

  // -------------------------------------------------------------- packing
  // Token-stream sequence packing (Packing.streamPacking): md5-sharded,
  // id-ordered exclusive prefix sums chunked into 2048-token packs —
  // deterministic pretraining batch assembly as one window pass.
  private val PackShards = 8
  private val PackBudget = 2048L

  private def qPacking(s: SparkSession, dir: String): DataFrame =
    Packing.streamPacking(
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("toks")),
      "doc_id", "toks", PackShards, PackBudget)

  private val qPackingSql = {
    val hexFold =
      "list_reduce(list_transform(regexp_split_to_array(" +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    val toks = "CASE WHEN s = '' THEN 0 ELSE length(s) - length(replace(s, ' ', '')) + 1 END"
    s"""WITH c AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS s
       |  FROM documents),
       |tk AS (SELECT doc_id, $hexFold % $PackShards AS shard,
       |       CAST($toks AS BIGINT) AS n_tokens FROM c),
       |pos AS (SELECT doc_id, shard, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset
       |  FROM tk)
       |SELECT doc_id, shard, n_tokens, start_offset,
       |  start_offset // $PackBudget AS pack_id,
       |  start_offset % $PackBudget AS offset_in_pack
       |FROM pos""".stripMargin
  }

  // -------------------------------------------------------------- mixture
  // Corpus-mixture rebalancing (Sampling.rebalanceToMixture): largest
  // downsample honoring target language shares, keep-rates computed
  // relationally from stratum counts, hash-deterministic keep decision.
  private val MixWeights = Seq("en" -> 0.4, "fr" -> 0.3, "de" -> 0.3)
  private val MixBuckets = 10000

  private def qMixture(s: SparkSession, dir: String): DataFrame =
    Sampling.rebalanceToMixture(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", MixWeights.toMap, MixBuckets)

  private val qMixtureSql = {
    val hexFold =
      "list_reduce(list_transform(regexp_split_to_array(" +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    val wCase = MixWeights
      .map { case (k, w) => s"WHEN '$k' THEN CAST($w AS DOUBLE)" }
      .mkString(" ")
    s"""WITH n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
       |    CASE lang $wCase END AS w
       |  FROM documents GROUP BY lang),
       |nw AS (SELECT * FROM n WHERE w IS NOT NULL),
       |t AS (SELECT min(n / w) AS t FROM nw),
       |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE), w * t.t / n) AS rate
       |  FROM nw CROSS JOIN t)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN r ON d.lang = r.lang
       |WHERE $hexFold % $MixBuckets <
       |  CAST(floor(rate * $MixBuckets.0) AS BIGINT)""".stripMargin
  }

  // ------------------------------------------------------- repeated spans
  // Relational exact-substring dedup signal (suffix-array analogue):
  // maximal runs of 5-gram shingles whose corpus occurrence exceeds 1,
  // merged into (span_start, span_words) islands of >= 8 words. The
  // oracle rebuilds the same spans from a lead()-window shingle table and
  // a row_number gaps-and-islands — different formulation, same result.
  private val SpanN = 5
  private val SpanMinWords = 8

  private def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    RepeatedSpans.spans(t(s, dir, "documents"), "doc_id", "text",
      SpanN, SpanMinWords)

  /** Shared span-detection CTE chain (word table `sw` through islands
    * `isl`) — ONE copy feeding both the detection oracle and the
    * excision oracle, so the two can never drift apart. */
  private val spanCtes: String = {
    val leads = (1 until SpanN)
      .map(j => s"lead(w, $j) OVER d").mkString(" || ' ' || ")
    s"""c AS (SELECT doc_id,
       |    regexp_split_to_array(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |sw AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
       |  FROM c),
       |sh AS (SELECT doc_id, i - 1 AS pos, w || ' ' || $leads AS shingle
       |       FROM sw WINDOW d AS (PARTITION BY doc_id ORDER BY i)
       |       QUALIFY shingle IS NOT NULL),
       |occ AS (SELECT md5(shingle) AS fp, count(*) AS occ FROM sh GROUP BY 1),
       |dup AS (SELECT doc_id, pos FROM sh JOIN occ ON md5(sh.shingle) = occ.fp
       |        WHERE occ > 1),
       |isl AS (SELECT doc_id, pos,
       |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM dup)""".stripMargin
  }

  private val qRepeatedSpansSql: String =
    s"""WITH $spanCtes
       |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       |  CAST(count(*) + ${SpanN - 1} AS BIGINT) AS span_words
       |FROM isl GROUP BY doc_id, island
       |HAVING count(*) + ${SpanN - 1} >= $SpanMinWords""".stripMargin

  // -------------------------------------------------------- span excision
  // Detection chained to treatment: the spans found by q_repeated_spans
  // are cut out of every document (word positions inside any span are
  // dropped, remainder re-joined). The oracle excises with a word-level
  // NOT EXISTS anti-join over the same span CTEs — different formulation,
  // same cleaned text; a LEFT JOIN keeps fully-excised documents as
  // empty strings on both sides.
  private def qSpanExcise(s: SparkSession, dir: String): DataFrame =
    RepeatedSpans.exciseSpans(t(s, dir, "documents"), "doc_id", "text",
      SpanN, SpanMinWords)

  private val qSpanExciseSql: String =
    s"""WITH $spanCtes,
       |spans AS (SELECT doc_id, min(pos) AS s,
       |            count(*) + ${SpanN - 1} AS w
       |          FROM isl GROUP BY doc_id, island
       |          HAVING count(*) + ${SpanN - 1} >= $SpanMinWords),
       |kept AS (SELECT sw.doc_id, sw.i - 1 AS pos, sw.w FROM sw
       |         WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |           WHERE sp.doc_id = sw.doc_id
       |             AND sw.i - 1 >= sp.s AND sw.i - 1 < sp.s + sp.w)),
       |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS cleaned_text,
       |          count(*) AS n FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
       |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_words_kept
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  // -------------------------------------------------------------- pagerank
  // Link-graph centrality by relational power iteration over the
  // bidirectional customer<->supplier co-purchase graph (keys are
  // prefix-namespaced — custkey 5 and suppkey 5 are different nodes).
  // Three rounds; the oracle replays them as a CTE chain. Every step is
  // IEEE division/multiply-add with contributions float-quantized into
  // 2^48 fixed-point BIGINTs (NOTES rule 7: a raw double cast to DECIMAL
  // ties at the scale digit ~1/30k values — 35 rows diverged here before
  // the fixed-point form) — no libm, no decimal rounding, so the rank
  // doubles hash-compare exactly. Damping literals are interpolated from
  // the SAME Scala doubles the operator uses (1.0 - 0.85 is
  // 0.15000000000000002, not the 0.15 a hand-written literal parses to).
  private val PrDamping = 0.85
  private val PrIters = 3

  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.PageRank.run(edges, "src", "dst", PrIters, PrDamping)
  }

  val qPageRankSql: String = {
    val base = 1.0 - PrDamping
    val fp = graft.operators.PageRank.FpScale
    def round(prev: String, out: String) =
      s"""$out AS (SELECT n.node,
         |    $base + $PrDamping *
         |      (CAST(coalesce(c.s, 0) AS DOUBLE) / $fp) AS rank,
         |    n.outdeg
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.dst, sum(CAST(CAST(CAST(rank / CAST(outdeg AS DOUBLE)
         |        AS FLOAT) AS DOUBLE) * $fp AS BIGINT)) AS s
         |    FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst) c
         |  ON n.node = c.dst)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank, outdeg
       |       FROM nodes LEFT JOIN deg ON node = src),
       |${(1 to PrIters).map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT node, rank FROM r$PrIters""".stripMargin
  }

  // ------------------------------------------------------------------ ppr
  // Personalized PageRank from two seed customers on the same bipartite
  // graph — restart mass returns to the seeds, so scores read as
  // "proximity to c1/c7". Same 2^48 fixed-point round replay as
  // q_pagerank, with the seeded restart CASE in both engines.
  private val PprSeeds = Seq("c1", "c7")

  def qPpr(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.PageRank.personalized(edges, "src", "dst",
      PprSeeds, PrIters, PrDamping)
      .filter(col("rank") > 0.0) // visited neighborhood only
  }

  val qPprSql: String = {
    val base = 1.0 - PrDamping
    val fp = graft.operators.PageRank.FpScale
    val seedList = PprSeeds.map(x => s"'$x'").mkString(", ")
    def round(prev: String, out: String) =
      s"""$out AS (SELECT n.node,
         |    (CASE WHEN n.node IN ($seedList) THEN $base ELSE 0.0 END)
         |      + $PrDamping *
         |      (CAST(coalesce(c.s, 0) AS DOUBLE) / $fp) AS rank,
         |    n.outdeg
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.dst, sum(CAST(CAST(CAST(rank / CAST(outdeg AS DOUBLE)
         |        AS FLOAT) AS DOUBLE) * $fp AS BIGINT)) AS s
         |    FROM e JOIN $prev r ON e.src = r.node GROUP BY e.dst) c
         |  ON n.node = c.dst)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node,
       |         CAST(CASE WHEN node IN ($seedList) THEN 1.0 ELSE 0.0 END
       |           AS DOUBLE) AS rank, outdeg
       |       FROM nodes LEFT JOIN deg ON node = src),
       |${(1 to PrIters).map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")}
       |SELECT node, rank FROM r$PrIters WHERE rank > 0.0""".stripMargin
  }

  // ------------------------------------------------------------------ bfs
  // Single-source BFS hop distances on the same customer↔supplier
  // bipartite graph PageRank walks: frontier-iteration on the Spark
  // side, recursive-UNION CTE + min() in DuckDB — independent
  // algorithms over integer distances.
  private val BfsSource = "c1"
  private val BfsMaxHops = 4

  def qBfs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("a"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.ShortestPaths.fromSource(
      edges, "src", "dst", BfsSource, BfsMaxHops)
  }

  val qBfsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |      UNION ALL SELECT b, a FROM pairs),
       |bfs(node, dist) AS (
       |  SELECT '$BfsSource', CAST(0 AS BIGINT)
       |  UNION
       |  SELECT e.dst, bfs.dist + 1
       |  FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $BfsMaxHops)
       |SELECT node, min(dist) AS dist FROM bfs GROUP BY node""".stripMargin

  // ------------------------------------------------------------ triangles
  // Per-node triangle counts + clustering coefficient on the parts
  // co-order graph (parts appearing in the same order are linked). The
  // operator runs degree-oriented wedge counting (O(m^1.5), skew-bounded);
  // the oracle closes wedges in plain id order — counts are
  // orientation-invariant, so agreement proves the oriented plan exact.
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    Triangles.perNode(edges, "src", "dst")
  }

  val qTrianglesSql: String =
    """WITH und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
      |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
      |tpn AS (
      |  SELECT node, count(*) AS n_tri FROM (
      |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY node)
      |SELECT d.node, d.degree, CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
      |  CASE WHEN d.degree < 2 THEN 0.0
      |       ELSE 2.0 * CAST(coalesce(t.n_tri, 0) AS DOUBLE) /
      |            (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
      |  END AS clustering
      |FROM deg d LEFT JOIN tpn t ON d.node = t.node""".stripMargin

  // --------------------------------------------------------------- k-core
  // Dense-nucleus extraction on the co-order part graph: nodes of the
  // k=80 core with their in-core degrees (operators.KCore — iterative
  // simultaneous peel, fixpoint after 5 rounds on this graph). The
  // oracle replays the identical peel as an unrolled MATERIALIZED CTE
  // chain (8 rounds — extra rounds past the fixpoint are no-ops, so
  // the margin is free); KCoreSpec pins the operator against a
  // brute-force peeler on adversarial shapes.
  private val KCoreK = 80
  private val KCoreRounds = 8

  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.KCore.extract(edges, "src", "dst", KCoreK)
  }

  private val qKcoreSql: String = {
    val rounds = (0 until KCoreRounds).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT u FROM e$i GROUP BY u HAVING count(*) < $KCoreK),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT u, v FROM e$i
         |  WHERE u NOT IN (SELECT u FROM b$i)
         |    AND v NOT IN (SELECT u FROM b$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |e0 AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
       |$rounds
       |SELECT u AS node, count(*) AS degree
       |FROM e$KCoreRounds GROUP BY u""".stripMargin
  }

  // ---------------------------------------------------------- skew report
  // Join-key skew diagnostic over events.user_id: top-10 keys with
  // count + share of the table, global totals on every row — the number
  // an operator reads before choosing plain shuffle vs AQE skew join vs
  // explicit salting. Bounded top-N aggregation (map-side k-buffers),
  // never a window over the per-key table.
  def qSkewReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.keySkewReport(t(s, dir, "events"), "user_id", 10)

  val qSkewReportSql: String =
    """WITH pk AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
      |              count(*) AS n_keys FROM pk)
      |SELECT rank, user_id, cnt,
      |  CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share,
      |  total_rows, n_keys
      |FROM (
      |  SELECT CAST(row_number() OVER (
      |      ORDER BY CAST(cnt AS DOUBLE) DESC, user_id) AS INT) AS rank,
      |    user_id, cnt FROM pk) r
      |CROSS JOIN t0
      |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------- assortativity
  // Degree assortativity of the co-order part graph (Newman's r): the
  // Pearson correlation of endpoint degrees over the DIRECTED edge set
  // (each undirected edge contributes both orientations, making r
  // symmetric by construction) — the one-number structural summary that
  // tells graph pipelines whether hubs attach to hubs (r > 0) or to the
  // periphery (r < 0). Rides Stats.corrByKey's engine-exact contract:
  // decimal moment sums, fixed-shape double formula.
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val und = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val directed = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val withDeg = directed
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
      .withColumn("g", lit("all"))
    graft.operators.Stats.corrByKey(withDeg, "g", "du", "dv")
      .select(col("n"), col("corr").as("assortativity"))
  }

  val qAssortativitySql: String =
    """WITH und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node),
      |de AS (
      |  SELECT du.degree AS x, dv.degree AS y FROM (
      |    SELECT a AS u, b AS v FROM und
      |    UNION ALL SELECT b, a FROM und) e
      |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
      |m AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
      |    sum(CAST(y AS DECIMAL(18,2))) AS sy,
      |    sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS sxy,
      |    sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS sxx,
      |    sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS syy
      |  FROM de)
      |SELECT n,
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
      |  END AS assortativity
      |FROM m""".stripMargin

  // --------------------------------------------------------- bucketed join
  // Co-located join via catalog bucketing: both sides are written
  // bucketed on the join key (the one-time shuffle), then the join runs
  // exchange-free — scan → per-bucket sort → merge join (pinned in
  // BucketingSpec). The merge hints keep the small side out of a
  // broadcast so the query exercises the bucketed path the 100 TB
  // fact-to-fact case needs. The oracle is the plain join + aggregate.
  def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    graft.core.Bucketing.writeBucketed(
      t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
      "graft_orders_bucketed", Seq("o_custkey"), nBuckets = 8)
    graft.core.Bucketing.writeBucketed(
      t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
      "graft_customer_bucketed", Seq("c_custkey"), nBuckets = 8)
    val o = s.table("graft_orders_bucketed").hint("merge")
    val c = s.table("graft_customer_bucketed").hint("merge")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"),
        count(lit(1)).as("n"))
  }

  val qBucketJoinSql: String =
    """SELECT c_nationkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey""".stripMargin

  // --------------------------------------------------------- epoch shuffle
  // Deterministic training-order shuffle for epoch 7 into 8 shards: the
  // oracle replays the md5 ordering with the pure-SQL hex fold, so the
  // exact (shard, pos) permutation is hash-checked across engines.
  private val EpochNo = 7L
  private val EpochShards = 8

  def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.EpochShuffle.assign(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", EpochNo, EpochShards)
      .select(col("doc_id"), col("shard"), col("pos"))

  val qEpochShuffleSql: String = {
    val fold = "list_reduce(list_transform(regexp_split_to_array(" +
      "substr(m, 1, 6), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
      "(a, x) -> a * 16 + x)"
    s"""WITH h AS (
       |  SELECT doc_id, md5('$EpochNo:' || CAST(doc_id AS VARCHAR)) AS m
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, m, $fold % $EpochShards AS shard FROM h)
       |SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) AS pos
       |FROM sh""".stripMargin
  }

  // ------------------------------------------------------ partition prune
  // Date-partitioned layout + planning-time pruning: orders written
  // partitioned by order year, read back with a year filter — the scan
  // lists ONE partition directory (PartitionFilters, pinned in
  // PartitionedLayoutSpec) instead of the table. The oracle aggregates
  // the same year from the flat table, proving the layout round-trips
  // the data and the pruned read misses nothing.
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_orders_by_year")
      .getAbsolutePath
    graft.core.PartitionedLayout.writePartitioned(
      t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
      path, Seq("o_year"))
    graft.core.PartitionedLayout.read(s, path)
      .filter(col("o_year") === 1997)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
  }

  val qPartitionPruneSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE year(o_orderdate) = 1997
      |GROUP BY o_orderstatus""".stripMargin

  // -------------------------------------------------------- join estimate
  // Universe-sampling join-size estimate (JoinEstimate.equiJoinRows):
  // both sides keep the same deterministic 10% key range, Σ aₖ·bₖ scales
  // by exactly 10. Compared against the true join count (the one-row
  // scalar cross join the registry allows) so the driver pins estimator
  // AND ground truth.
  private def qJoinEstimate(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val est = graft.operators.JoinEstimate.equiJoinRows(
      li, "l_orderkey", o, "o_orderkey")
    val truth = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .agg(count(lit(1)).as("true_rows"))
    est.crossJoin(truth).select(
      col("est_rows"), col("true_rows"),
      (col("est_rows").cast("double") / col("true_rows").cast("double"))
        .as("err_ratio"))
  }

  private val qJoinEstimateSql = {
    def hexFold(c: String) =
      "list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5(CAST($c AS VARCHAR)), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH sa AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem
       |  WHERE ${hexFold("l_orderkey")} % 10000 < 1000 GROUP BY 1),
       |sb AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders
       |  WHERE ${hexFold("o_orderkey")} % 10000 < 1000 GROUP BY 1),
       |e AS (SELECT CAST(COALESCE(sum(ca * cb), 0) * 10 AS BIGINT)
       |    AS est_rows FROM sa JOIN sb USING (k)),
       |t AS (SELECT count(*) AS true_rows
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT est_rows, true_rows,
       |  CAST(est_rows AS DOUBLE) / CAST(true_rows AS DOUBLE) AS err_ratio
       |FROM e CROSS JOIN t""".stripMargin
  }

  // ------------------------------------------------------ temperature mix
  // mT5-style temperature-scaled sampling weights per language: p_i ∝
  // n_i^(1/T) at T=2 (sqrt — IEEE-exact, so the whole column replays
  // bit-identically in DuckDB; the normalizing sum is order-independent
  // via the DECIMAL(20,12) rounding treatment).
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixWeights(
      t(s, dir, "documents").select(col("lang")), "lang", temperature = 2.0)

  private val qTemperatureMixSql =
    """WITH n AS (SELECT lang, count(*) AS n_docs
      |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      |w AS (SELECT lang, n_docs,
      |  CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(20,12)) AS wd FROM n),
      |t AS (SELECT sum(n_docs) AS tn, sum(wd) AS tw FROM w)
      |SELECT lang, n_docs,
      |  CAST(n_docs AS DOUBLE) / CAST(tn AS DOUBLE) AS p_raw,
      |  CAST(wd AS DOUBLE) / CAST(tw AS DOUBLE) AS p_temp
      |FROM w CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- z-order
  // Morton z-value of (l_extendedprice, l_quantity) — the clustering key
  // ZOrder.layout sorts on so parquet min-max stats prune on BOTH columns
  // (write-time layout, free at read time; the pruning payoff itself is
  // measured in ZOrderSpec). The oracle replays bin (fixed bounds, clamp)
  // and the 5-step Morton spread with the same magic masks in SQL bit
  // ops, so the curve arithmetic is pinned bit-exactly. Bounds are the
  // "known at scale" fixed constants the operator documents (you sample
  // or know your column bounds; no hidden pass).
  private val ZPriceMin = 900.0
  private val ZPriceMax = 105000.0
  private val ZQtyMin = 1.0
  private val ZQtyMax = 50.0

  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    import graft.core.ZOrder
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      ZOrder.zValue(
        ZOrder.bin(col("l_extendedprice"), ZPriceMin, ZPriceMax),
        ZOrder.bin(col("l_quantity"), ZQtyMin, ZQtyMax)).as("zval"))
  }

  private val qZorderSql = {
    // spread16 as CTE steps: v -> (v|v<<8)&0x00FF00FF -> (..<<4)&0x0F0F0F0F
    // -> (..<<2)&0x33333333 -> (..<<1)&0x55555555 (same masks as
    // ZOrder.spread16); bin = clamp(floor((x-min)/span*65535)).
    def bin(c: String, min: Double, span: Double) =
      s"least(greatest(CAST(floor(($c - $min) / $span * 65535.0) AS BIGINT), 0), 65535)"
    s"""WITH b AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ${bin("l_extendedprice", ZPriceMin, ZPriceMax - ZPriceMin)} AS a0,
       |    ${bin("l_quantity", ZQtyMin, ZQtyMax - ZQtyMin)} AS b0
       |  FROM lineitem),
       |s1 AS (SELECT l_orderkey, l_linenumber,
       |  ((a0 | (a0 << 8)) & 16711935) AS a1,
       |  ((b0 | (b0 << 8)) & 16711935) AS b1 FROM b),
       |s2 AS (SELECT l_orderkey, l_linenumber,
       |  ((a1 | (a1 << 4)) & 252645135) AS a2,
       |  ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
       |s3 AS (SELECT l_orderkey, l_linenumber,
       |  ((a2 | (a2 << 2)) & 858993459) AS a3,
       |  ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
       |s4 AS (SELECT l_orderkey, l_linenumber,
       |  ((a3 | (a3 << 1)) & 1431655765) AS a4,
       |  ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3)
       |SELECT l_orderkey, l_linenumber, (a4 | (b4 << 1)) AS zval
       |FROM s4""".stripMargin
  }

  // --------------------------------------------------------- bloom lookup
  // Point lookup routed through the file-level Bloom index
  // (core.BloomIndex): build per-file sketches, prune candidate files
  // driver-side, scan only survivors. The oracle is the plain IN filter
  // — Bloom false negatives are impossible, so the pruned path must
  // return exactly the full-scan rows.
  private val LookupKeys = Seq(42L, 4242L, 14242L)

  private def qBloomLookup(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.core.BloomIndex.build(
      s, s"$dir/lineitem.parquet", "l_orderkey",
      expectedItemsPerFile = 1L << 20)
    graft.core.BloomIndex.lookup(s, idx, "l_orderkey", LookupKeys)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
  }

  private val qBloomLookupSql =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
       |FROM lineitem
       |WHERE l_orderkey IN (${LookupKeys.mkString(", ")})""".stripMargin

  // ------------------------------------------------------- zone-map lookup
  // Range lookup routed through the file-level min/max index
  // (core.ZoneMap) — the range half of the skipping story next to the
  // Bloom equality half. Envelopes only over-approximate file contents,
  // so the pruned read must return exactly the full-scan BETWEEN rows
  // (the oracle); real multi-file pruning is proven in ZoneMapSpec.
  private val ZmLo = 55000.0
  private val ZmHi = 55500.0

  private def qZonemapLookup(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.core.ZoneMap.build(
      s, s"$dir/lineitem.parquet", Seq("l_extendedprice"))
    graft.core.ZoneMap.rangeLookup(s, idx, "l_extendedprice", ZmLo, ZmHi)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"))
  }

  private val qZonemapLookupSql =
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
       |FROM lineitem
       |WHERE l_extendedprice BETWEEN $ZmLo AND $ZmHi""".stripMargin

  // ------------------------------------------------------------- z-order 3D
  // Three-column Morton key (price, quantity, discount — 21 bits each,
  // the full signed-long budget): the clustering key when a table is
  // probed on three independent dimensions. Oracle replays bin + the
  // 3-D spread chain (masks are the decimal renderings of 0x1F00000000FFFF,
  // 0x1F0000FF0000FF, 0x100F00F00F00F00F, 0x10C30C30C30C30C3,
  // 0x1249249249249249).
  private val ZDiscMin = 0.0
  private val ZDiscMax = 0.1

  private def qZorder3(s: SparkSession, dir: String): DataFrame = {
    import graft.core.ZOrder
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      ZOrder.zValue3(
        ZOrder.bin(col("l_extendedprice"), ZPriceMin, ZPriceMax, bits = 21),
        ZOrder.bin(col("l_quantity"), ZQtyMin, ZQtyMax, bits = 21),
        ZOrder.bin(col("l_discount"), ZDiscMin, ZDiscMax, bits = 21))
        .as("zval"))
  }

  private val qZorder3Sql = {
    def bin(c: String, min: Double, span: Double) =
      s"least(greatest(CAST(floor(($c - $min) / $span * 2097151.0) AS BIGINT), 0), 2097151)"
    // DuckDB raises on <<-overflow where the JVM wraps, so shift the
    // PRE-masked value: (v|v<<s)&M == (v&M) | ((v & (M>>s)) << s) — the
    // shifted operand then never exceeds the 63-bit budget.
    def step(v: String, sh: Int, mask: Long) =
      s"(($v & $mask) | (($v & ${mask >>> sh}) << $sh))"
    val cols = Seq("a", "b", "c")
    def stage(sh: Int, mask: Long, from: Int) =
      cols.map(v => s"  ${step(s"$v$from", sh, mask)} AS $v${from + 1}")
        .mkString(",\n")
    s"""WITH b0 AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ${bin("l_extendedprice", ZPriceMin, ZPriceMax - ZPriceMin)} AS a1,
       |    ${bin("l_quantity", ZQtyMin, ZQtyMax - ZQtyMin)} AS b1,
       |    ${bin("l_discount", ZDiscMin, ZDiscMax - ZDiscMin)} AS c1
       |  FROM lineitem),
       |t1 AS (SELECT l_orderkey, l_linenumber,
       |${stage(32, 0x1F00000000FFFFL, 1)} FROM b0),
       |t2 AS (SELECT l_orderkey, l_linenumber,
       |${stage(16, 0x1F0000FF0000FFL, 2)} FROM t1),
       |t3 AS (SELECT l_orderkey, l_linenumber,
       |${stage(8, 0x100F00F00F00F00FL, 3)} FROM t2),
       |t4 AS (SELECT l_orderkey, l_linenumber,
       |${stage(4, 0x10C30C30C30C30C3L, 4)} FROM t3),
       |t5 AS (SELECT l_orderkey, l_linenumber,
       |${stage(2, 0x1249249249249249L, 5)} FROM t4)
       |SELECT l_orderkey, l_linenumber,
       |  (a6 | (b6 << 1) | (c6 << 2)) AS zval
       |FROM t5""".stripMargin
  }

  // -------------------------------------------------- merge-on-read delete
  // Versioned delta table with an equality-delete version in the middle
  // of its history (core.Deletes): batches of orders land as versions
  // 1/2, the key set of every 'F'-status order is committed as a DELETE
  // version, then batch 3 lands AFTER it. The merged read must drop F
  // rows from batches 1-2 but keep batch 3's — including its F rows and
  // re-arrivals of deleted keys — pinning the Iceberg sequence-number
  // rule (a delete applies only to STRICTLY EARLIER versions) in the
  // driver gate. The oracle states that rule directly over the flat
  // table.
  def qMorDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Deletes, Snapshots}
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_mor_orders")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val o = t(s, dir, "orders")
    Snapshots.commit(o.filter(col("o_orderkey") % 3 === 0), path)
    Snapshots.commit(o.filter(col("o_orderkey") % 3 === 1), path)
    Deletes.commitDeletes(s, path,
      o.filter(col("o_orderstatus") === "F").select(col("o_orderkey")))
    Snapshots.commit(o.filter(col("o_orderkey") % 3 === 2), path)
    Deletes.readMerged(s, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
  }

  val qMorDeleteSql: String =
    """SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 IN (0, 1))
      |GROUP BY o_orderstatus""".stripMargin

  // ------------------------------------------------------- mor upsert
  // CDC upsert through the same MOR machinery (Deletes.commitUpsert):
  // the full orders table lands as v1, then a correction batch
  // re-states every %5==0 order with its priority rewritten. The
  // merged read must show the corrected rows winning over their v1
  // originals while everything else is untouched — the oracle states
  // the upsert as a CASE over the flat table.
  def qMorUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Deletes, Snapshots}
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_mor_upsert")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val o = t(s, dir, "orders")
    Snapshots.commit(o, path)
    Deletes.commitUpsert(s, path,
      o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderpriority", lit("9-RESTATED")),
      Seq("o_orderkey"))
    Deletes.readMerged(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
  }

  val qMorUpsertSql: String =
    """SELECT CASE WHEN o_orderkey % 5 = 0 THEN '9-RESTATED'
      |       ELSE o_orderpriority END AS o_orderpriority,
      |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders
      |GROUP BY 1""".stripMargin

  // ----------------------------------------------------- version diff
  // Row-level change feed between two snapshot versions
  // (Snapshots.diff): v1 = orders key/priority, v2 = the same with
  // every %11 key dropped and every surviving %7 key's priority
  // rewritten. The diff must emit exactly the delete for each dropped
  // row, a delete+insert pair for each rewrite, and nothing for
  // untouched rows — the oracle constructs that exact row set from the
  // flat table. 'X-DIFF' cannot collide with a real priority value, so
  // a rewrite can never net to zero.
  def qVersionDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Snapshots
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_version_diff")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Snapshots.commit(o, path)
    Snapshots.commit(
      o.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 7 === 0, lit("X-DIFF"))
            .otherwise(col("o_orderpriority"))),
      path)
    Snapshots.diff(s, path, 1L, 2L)
  }

  val qVersionDiffSql: String =
    """SELECT o_orderkey, o_orderpriority, 'delete' AS _change,
      |  CAST(1 AS BIGINT) AS _n
      |FROM orders WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey, 'X-DIFF', 'insert', CAST(1 AS BIGINT)
      |FROM orders
      |WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 = 0""".stripMargin

  // ------------------------------------------------------------------ maps
  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_zorder", qZorder, qZorderSql),
    Query("q_temperature_mix", qTemperatureMix, qTemperatureMixSql),
    Query("q_zorder3", qZorder3, qZorder3Sql),
    Query("q_bloom_lookup", qBloomLookup, qBloomLookupSql),
    Query("q_zonemap_lookup", qZonemapLookup, qZonemapLookupSql),
    Query("q_join_estimate", qJoinEstimate, qJoinEstimateSql),
    Query("q_span_excise", qSpanExcise, qSpanExciseSql),
    Query("q_repeated_spans", qRepeatedSpans, qRepeatedSpansSql),
    Query("q_range_join", qRangeJoin, qRangeJoinSql),
    Query("q_bloom_semi", qBloomSemi, qBloomSemiSql),
    Query("q_centroids", qCentroids, qCentroidsSql),
    Query("q_repetition", qRepetition, qRepetitionSql),
    Query("q_pivot_lang", qPivotLang, qPivotLangSql),
    Query("q_overlap_join", qOverlapJoin, qOverlapJoinSql),
    Query("q_quantiles", qQuantiles, qQuantilesSql),
    Query("q_boilerplate", qBoilerplate, qBoilerplateSql),
    Query("q_contamination", qContamination, qContaminationSql),
    Query("q_packing", qPacking, qPackingSql),
    Query("q_mixture", qMixture, qMixtureSql),
    Query("q_pagerank", qPageRank, qPageRankSql),
    Query("q_ppr", qPpr, qPprSql),
    Query("q_bfs", qBfs, qBfsSql),
    Query("q_triangles", qTriangles, qTrianglesSql),
    Query("q_assortativity", qAssortativity, qAssortativitySql),
    Query("q_kcore", qKcore, qKcoreSql),
    Query("q_skew_report", qSkewReport, qSkewReportSql),
    Query("q_bucket_join", qBucketJoin, qBucketJoinSql),
    Query("q_epoch_shuffle", qEpochShuffle, qEpochShuffleSql),
    Query("q_partition_prune", qPartitionPrune, qPartitionPruneSql),
    Query("q_mor_delete", qMorDelete, qMorDeleteSql),
    Query("q_mor_upsert", qMorUpsert, qMorUpsertSql),
    Query("q_version_diff", qVersionDiff, qVersionDiffSql),
  )
}
