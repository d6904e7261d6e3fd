package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.TextFunctions
import graft.similarity.CosineSearch

import QueriesText.{sqlCollapse, sqlHexFold, SampleBuckets}

/** Beyond-reference query group, dedup-prep & similarity family:
  * fingerprints, exact/n-gram/minhash/simhash dedup, cluster closure and
  * keeper selection, deterministic sampling, feature hashing, embedding
  * search (brute + IVF), rank fusion, and the leakage-free split — over
  * `documents`/`embeddings`. Split out of [[QueriesText]] (which keeps
  * the quality/retrieval SIGNALS family and the shared SQL fragment
  * builders); [[QueriesTextObjectives]] holds the denoising-objective
  * prep. Same oracle discipline throughout: SQL generated from the same
  * constants as the Column builders.
  */
object QueriesTextDedup {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------- fingerprint
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.fingerprintShort(col("text")).as("fp64"))

  val qFingerprintSql: String =
    s"""SELECT doc_id, md5(lower(${sqlCollapse("text")})) AS fp,
       |  substr(md5(lower(${sqlCollapse("text")})), 1, 16) AS fp64
       |FROM documents""".stripMargin

  // ---------------------------------------------------------- exact dedup
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")

  val qDedupExactSql: String =
    s"""SELECT md5(lower(${sqlCollapse("text")})) AS content_key,
       |  min(doc_id) AS keeper_id, count(*) AS n_docs
       |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------------- shingle CTE(s)
  private val shingleCte =
    s"""w AS (SELECT doc_id, regexp_split_to_array(${sqlCollapse("text")}, ' ') AS ws
       |      FROM documents),
       |sw AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
       |       FROM w),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |         SELECT doc_id,
       |           w || ' ' || lead(w) OVER d || ' ' || lead(w, 2) OVER d AS shingle
       |         FROM sw WINDOW d AS (PARTITION BY doc_id ORDER BY i))
       |       WHERE shingle IS NOT NULL)""".stripMargin

  // --------------------------------------------------------- ngram dedup
  def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)

  // Lossless prefix-filtered variant (the heavy-tail scale path) — same
  // output contract, so it shares the brute-force oracle.
  def qDedupNgramPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)

  val qDedupNgramSql: String =
    s"""WITH $shingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, x.n AS na, y.n AS nb,
       |  CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) >= 0.5""".stripMargin

  // ------------------------------------------------------ minhash family
  private val MinhashK = 8
  private val BandSize = 2

  def qMinhashSig(s: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignatures(
      Dedup.shingleTable(t(s, dir, "documents"), "doc_id", "text", 3),
      "doc_id", MinhashK)
    val bands = (0 until MinhashK / BandSize).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize).map(i => col(s"mh_$i"))
      md5(concat(cols: _*)).as(s"band_$b")
    }
    sig.select((col("doc_id") +:
      (0 until MinhashK).map(i => col(s"mh_$i"))) ++ bands: _*)
  }

  private val sigSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(md5('$i:' || shingle)) AS mh_$i").mkString(",\n        ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }
  private val bandExprs = (0 until MinhashK / BandSize).map { b =>
    val parts = (b * BandSize until (b + 1) * BandSize).map(i => s"mh_$i")
    s"md5(${parts.mkString(" || ")}) AS band_$b"
  }

  val qMinhashSigSql: String =
    s"""WITH $shingleCte,
       |$sigSql
       |SELECT doc_id, ${(0 until MinhashK).map("mh_" + _).mkString(", ")},
       |  ${bandExprs.mkString(",\n  ")}
       |FROM sig""".stripMargin

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignatures(
      Dedup.shingleTable(t(s, dir, "documents"), "doc_id", "text", 3),
      "doc_id", MinhashK)
    Dedup.minhashCandidates(sig, "doc_id", MinhashK, BandSize)
  }

  val qDedupMinhashSql: String = {
    val bandCols = (0 until MinhashK / BandSize).map("band_" + _)
    val on = bandCols.map(b => s"a.$b = b.$b").mkString(" OR ")
    s"""WITH $shingleCte,
       |$sigSql,
       |banded AS (SELECT doc_id, ${bandExprs.mkString(", ")} FROM sig)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($on)""".stripMargin
  }

  // ----------------------------------------------------- dedup clustering
  // Transitive closure of the minhash candidate pairs: pair detection
  // alone under-deletes (A~B, B~C must drop two of three docs), so the
  // cluster id = min reachable doc id is the actual dedup decision. The
  // oracle computes the same closure with a recursive CTE — a completely
  // independent algorithm (BFS fixpoint vs label propagation), so a match
  // validates the operator, not the implementation.
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    ConnectedComponents.labels(qDedupMinhash(s, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))

  val qDedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |$qDedupMinhashSql
       |),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst)
       |SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node""".stripMargin

  // ------------------------------------------------- keeper selection
  // The full dedup DECISION pipeline: minhash candidate pairs ->
  // transitive clusters -> one keeper per cluster, chosen by content
  // length (n_chars desc, doc_id tiebreak) — the curation rule that
  // keeps the richest copy rather than an arbitrary one. Output is the
  // per-document verdict for every clustered document. The oracle chains
  // the recursive-CTE closure with the same window rank.
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val labels = ConnectedComponents
      .labels(qDedupMinhash(s, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels.join(docs, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("keep"))
  }

  val qDedupKeepBestSql: String =
    s"""WITH labels AS (
       |$qDedupClustersSql
       |)
       |SELECT l.doc_id, l.cluster_id,
       |  (row_number() OVER (PARTITION BY l.cluster_id
       |     ORDER BY d.n_chars DESC, l.doc_id) = 1) AS keep
       |FROM labels l JOIN documents d USING (doc_id)""".stripMargin

  // ------------------------------------------------- deterministic sample
  // Corpus balancing: downsample over-represented strata (en to 20%, zh
  // to 50%) with hash sampling — reproducible across runs, partitionings,
  // and engines, unlike seeded per-partition RNG. The oracle replays the
  // identical md5-bucket decision. (Bucket constant lives in QueriesText
  // — the quality-weighted sampler there shares it.)

  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", Map("en" -> 0.2, "zh" -> 0.5, "es" -> 0.33335),
      1.0, SampleBuckets)

  // Hashing-trick featurization: vocabulary-free signed token hashing
  // into 64 buckets — integer-exact end to end, so the oracle replays
  // bucket, sign, and sum directly.
  private val HashDims = 64

  def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.hashFeatures(
      t(s, dir, "documents"), "doc_id", "text", HashDims)

  val qFeatureHashSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(ws) AS term FROM (
       |      SELECT doc_id, regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents) d)
       |  WHERE term <> '')
       |SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight FROM (
       |  SELECT doc_id, ${sqlHexFold("term")} % $HashDims AS bucket,
       |    CASE WHEN CAST(strpos('0123456789abcdef',
       |        substr(md5(term), 7, 1)) - 1 AS BIGINT) % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM terms)
       |GROUP BY 1, 2""".stripMargin

  // Reciprocal rank fusion of two document rankings (length and lexical
  // diversity; the second truncated to its top 100 so the missing-item
  // zero-contribution path is exercised). Fixed-shape reciprocal sums —
  // bit-reproducible — and the full-outer alignment replayed exactly.
  def qRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val byLength = docs.select(col("doc_id"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n_chars").desc, col("doc_id"))).as("r"))
    val byDiversity = docs
      .select(col("doc_id"),
        explode(split(graft.functions.TextFunctions.normalize(col("text")),
          " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nd"))
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("nd").desc, col("doc_id"))).as("r"))
      .filter(col("r") <= 100)
    graft.operators.RankFusion.rrf(
      Seq(byLength, byDiversity), "doc_id", "r", 50)
  }

  val qRrfSql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
       |  FROM documents),
       |terms AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(ws) AS term FROM (
       |      SELECT doc_id,
       |        regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents) d)
       |  WHERE term <> ''),
       |b0 AS (
       |  SELECT doc_id, count(DISTINCT term) AS nd FROM terms GROUP BY 1),
       |b AS (
       |  SELECT doc_id, r FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY nd DESC, doc_id) AS r
       |    FROM b0) WHERE r <= 100),
       |f AS (
       |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |    (CASE WHEN a.r IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       |        / (CAST(60.0 AS DOUBLE) + CAST(a.r AS DOUBLE))
       |      ELSE CAST(0.0 AS DOUBLE) END)
       |    + (CASE WHEN b.r IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       |        / (CAST(60.0 AS DOUBLE) + CAST(b.r AS DOUBLE))
       |      ELSE CAST(0.0 AS DOUBLE) END) AS rrf_score
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT doc_id, rrf_score, fused_rank FROM (
       |  SELECT doc_id, rrf_score, row_number() OVER (
       |    ORDER BY rrf_score DESC, doc_id) AS fused_rank
       |  FROM f) WHERE fused_rank <= 50""".stripMargin

  // Weighted sampling WITHOUT replacement: exactly 5 docs per language,
  // longer documents proportionally likelier (Efraimidis–Spirakis keys
  // u^(1/w) from a 48-bit md5 uniform, decimal-rounded pow waypoint).
  // The oracle replays draw, key, and cut.
  def qWorSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.worSample(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      "doc_id", "lang", "n_chars", 5)

  val qWorSampleSql: String = {
    // 12 hex chars -> 48-bit BIGINT (the 6-char sqlHexFold idiom, wider)
    val fold48 =
      "list_reduce(list_transform(regexp_split_to_array(" +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH s AS (
       |  SELECT lang, doc_id,
       |    CAST(CAST(pow((CAST($fold48 AS DOUBLE) + 0.5) / 281474976710656.0,
       |      1.0 / CAST(n_chars AS DOUBLE)) AS DECIMAL(14,12)) AS DOUBLE)
       |      AS wor_key
       |  FROM documents
       |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0.0)
       |SELECT lang, rank, doc_id, wor_key FROM (
       |  SELECT lang, doc_id, wor_key, row_number() OVER (
       |    PARTITION BY lang ORDER BY wor_key DESC, doc_id) AS rank
       |  FROM s) WHERE rank <= 5""".stripMargin
  }

  val qSampleStratifiedSql: String = {
    // 6 hex chars -> BIGINT (pure-SQL fold; same idiom as simhash oracle)
    val hexFold = sqlHexFold("doc_id")
    // FLOOR on both engines — a bare BIGINT cast rounds in DuckDB but
    // truncates in Spark, diverging whenever rate*buckets is fractional
    // (the 'es' rate makes it 3333.5 so the gate exercises this)
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, $hexFold % $SampleBuckets AS b FROM documents)
       |WHERE b < CAST(FLOOR((CASE lang WHEN 'en' THEN 0.2 WHEN 'zh' THEN 0.5
       |                WHEN 'es' THEN 0.33335
       |                ELSE 1.0 END) * $SampleBuckets) AS BIGINT)""".stripMargin
  }

  // -------------------------------------------------------------- simhash
  // md5-derived bit planes (two 32-bit halves) so the DuckDB oracle
  // replays the identical hash -> votes -> bands -> hamming pipeline.
  // The xxhash64 variant (Dedup.simhashPairs) stays the throughput path,
  // spec-covered (hamming symmetry, planted near-dup recall).
  def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsMd5(t(s, dir, "documents"), "doc_id", "text", 12)

  val qSimhashPairsSql: String = {
    // parse 8 hex chars -> BIGINT with a pure-SQL fold (DuckDB has no
    // hex-literal cast); matches Spark's conv(substring(md5,..),16,10)
    def hexFold(sub: String) =
      s"list_reduce(list_transform(regexp_split_to_array($sub, ''), " +
        s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH toks AS (
       |  SELECT doc_id, md5(w) AS m FROM (
       |    SELECT doc_id, unnest(ws) AS w
       |    FROM (SELECT doc_id, regexp_split_to_array(${sqlCollapse("text")}, ' ') AS ws
       |          FROM documents) d)
       |  WHERE w <> ''),
       |hx AS (SELECT doc_id, ${hexFold("substr(m, 1, 8)")} AS h1,
       |              ${hexFold("substr(m, 9, 8)")} AS h2 FROM toks),
       |votes AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((h1 >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v1,
       |    SUM(CASE WHEN ((h2 >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v2
       |  FROM hx CROSS JOIN range(0, 32) r(j) GROUP BY doc_id, j),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sh_lo,
       |    CAST(SUM(CASE WHEN v2 > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sh_hi
       |  FROM votes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, sh_lo, sh_hi, b.bi AS band_idx,
       |    CASE b.bi WHEN 0 THEN sh_lo & 65535 WHEN 1 THEN (sh_lo >> 16) & 65535
       |              WHEN 2 THEN sh_hi & 65535 ELSE (sh_hi >> 16) & 65535 END AS band_val
       |  FROM sig CROSS JOIN range(0, 4) b(bi))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh_lo, b.sh_lo)) +
       |       bit_count(xor(a.sh_hi, b.sh_hi)) AS INT) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) +
       |      bit_count(xor(a.sh_hi, b.sh_hi)) <= 12""".stripMargin
  }

  // ------------------------------------------------------ embedding topk
  def qEmbedTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    CosineSearch.bruteForceTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", 3)
  }

  // Norms/dots via exact decimal sums over the unnested element index —
  // order-independent, so GROUP BY aggregation order can't perturb them.
  private val normCte =
    """n AS (SELECT vec_id, embedding,
      |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS norm_sq
      |  FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY vec_id, embedding)""".stripMargin

  val qEmbedTopkSql: String =
    s"""WITH $normCte,
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS dot,
       |    any_value(q.norm_sq) AS qn, any_value(c.norm_sq) AS cn
       |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY q.vec_id, c.vec_id),
       |scored AS (
       |  SELECT query_id, nn_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cos_sim
       |  FROM pairs)
       |SELECT query_id, rank, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos_sim DESC, nn_id) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin

  // ------------------------------------------------------ knn label vote
  // kNN classification: each probe vector takes the majority label of
  // its 5 exact nearest neighbors (ties → smallest label). The oracle
  // reuses the decimal-quantized dot-product idiom and replays the
  // deterministic (votes DESC, label ASC) argmax.
  def qKnnLabel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.similarity.KnnClassify.predictBruteForce(
      e, e.filter(col("vec_id") < 50), "vec_id", "embedding", "label", 5)
  }

  val qKnnLabelSql: String =
    s"""WITH $normCte,
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS dot,
       |    any_value(q.norm_sq) AS qn, any_value(c.norm_sq) AS cn
       |  FROM n q JOIN n c ON q.vec_id < 50 AND q.vec_id <> c.vec_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY q.vec_id, c.vec_id),
       |scored AS (
       |  SELECT query_id, nn_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cos_sim
       |  FROM pairs),
       |topk AS (SELECT query_id, nn_id FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos_sim DESC, nn_id) AS rank
       |  FROM scored) WHERE rank <= 5),
       |votes AS (
       |  SELECT t.query_id, e.label AS pred_label, count(*) AS votes
       |  FROM topk t JOIN embeddings e ON e.vec_id = t.nn_id
       |  GROUP BY 1, 2)
       |SELECT query_id, pred_label, votes FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY votes DESC, pred_label ASC) AS rn
       |  FROM votes) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------- IVF search
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    CosineSearch.ivfTopK(
      vecs = e,
      centroids = e.filter(col("vec_id") < 16),
      queries = e.filter(col("vec_id") < 50),
      idCol = "vec_id", vecCol = "embedding", centroidIdCol = "vec_id", k = 3)
  }

  val qAnnIvfSql: String =
    s"""WITH $normCte,
       |cents AS (SELECT vec_id AS centroid_id, embedding AS c_vec, norm_sq AS c_norm_sq
       |          FROM n WHERE vec_id < 16),
       |asg_scored AS (
       |  SELECT v.vec_id, c.centroid_id,
       |    CAST(SUM(CAST(CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE)
       |      / (sqrt(CAST(any_value(v.norm_sq) AS DOUBLE)) * sqrt(CAST(any_value(c.c_norm_sq) AS DOUBLE))) AS c_sim
       |  FROM n v CROSS JOIN cents c CROSS JOIN range(1, 65) t(i)
       |  GROUP BY v.vec_id, c.centroid_id),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM asg_scored) WHERE rn = 1),
       |cand AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS nn_id, qa.centroid_id,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE)
       |      / (sqrt(CAST(any_value(q.norm_sq) AS DOUBLE)) * sqrt(CAST(any_value(c.norm_sq) AS DOUBLE))) AS cos_sim
       |  FROM assigned qa
       |  JOIN n q ON q.vec_id = qa.vec_id AND qa.vec_id < 50
       |  JOIN assigned ca ON ca.centroid_id = qa.centroid_id AND ca.vec_id <> qa.vec_id
       |  JOIN n c ON c.vec_id = ca.vec_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY qa.vec_id, ca.vec_id, qa.centroid_id)
       |SELECT query_id, rank, nn_id, centroid_id, cos_sim FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos_sim DESC, nn_id) AS rank
       |  FROM cand) WHERE rank <= 3""".stripMargin

  // ----------------------------------------------------- leakage-free split
  // Train/val/test assignment keyed on the content FINGERPRINT, not the
  // document id: exact duplicates share a fingerprint, so they land in
  // the same split and cannot leak training text into evaluation.
  // Boundaries come from Splits.boundaries (exact decimal — shared with
  // this oracle string so both engines cut at identical integers).
  private val SplitFracs =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  def qSplitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .withColumn("split",
        graft.operators.Splits.label(col("fp"), SplitFracs))
  }

  val qSplitLeakfreeSql: String = {
    val bounds = graft.operators.Splits.boundaries(SplitFracs, 10000)
    val cases = SplitFracs.map(_._1).zip(bounds).dropRight(1)
      .map { case (n, b) => s"WHEN b < $b THEN '$n'" }.mkString(" ")
    s"""SELECT doc_id, fp,
       |  CASE WHEN b IS NULL THEN NULL
       |       $cases ELSE '${SplitFracs.last._1}' END AS split
       |FROM (SELECT doc_id, fp, ${sqlHexFold("fp")} % 10000 AS b
       |      FROM (SELECT doc_id, md5(${sqlCollapse("lower(text)")}) AS fp
       |            FROM documents))""".stripMargin
  }

  // ------------------------------------------------------- screen quality
  // Evaluation of the LSH screen against ground truth: precision/recall
  // of the minhash band candidates vs the exact n-gram Jaccard >= 0.5
  // pairs — the number a pipeline owner reads before trusting a screen
  // at corpus scale (the ANN family's q_rank_metric, applied to dedup).
  // Integer counts; two fixed-shape ratios; one-row scalar output.
  def qLshQuality(s: SparkSession, dir: String): DataFrame = {
    // both pair sets feed TWO consumers each (their count and the hit
    // semi-join) — retain them or the expensive screens (n-gram shingle
    // join, minhash band join) execute twice (guide §5: persist exactly
    // the reused intermediates; measured 8.8 s -> see OPTIMIZATION_r14)
    val exact = graft.core.CacheScope.session.retain(
      qDedupNgram(s, dir).select(col("doc_a"), col("doc_b")))
    val cand = graft.core.CacheScope.session.retain(
      qDedupMinhash(s, dir).select(col("doc_a"), col("doc_b")))
    val nE = exact.agg(count(lit(1)).as("n_exact"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nH = cand.join(exact, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nE.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_cand").cast("double"))
          .as("precision"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  val qLshQualitySql: String =
    s"""WITH exact AS (
       |  SELECT doc_a, doc_b FROM (
       |$qDedupNgramSql
       |  ) t),
       |cand AS (
       |$qDedupMinhashSql
       |),
       |h AS (SELECT count(*) AS n_hit FROM cand
       |      WHERE EXISTS (SELECT 1 FROM exact e
       |                    WHERE e.doc_a = cand.doc_a
       |                      AND e.doc_b = cand.doc_b)),
       |ne AS (SELECT count(*) AS n_exact FROM exact),
       |nc AS (SELECT count(*) AS n_cand FROM cand)
       |SELECT n_exact, n_cand, n_hit,
       |  CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) AS precision,
       |  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM ne CROSS JOIN nc CROSS JOIN h""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_lsh_quality", qLshQuality, qLshQualitySql),
    Query("q_fingerprint", qFingerprint, qFingerprintSql),
    Query("q_dedup_exact", qDedupExact, qDedupExactSql),
    Query("q_dedup_ngram", qDedupNgram, qDedupNgramSql),
    Query("q_dedup_ngram_prefix", qDedupNgramPrefix, qDedupNgramSql),
    Query("q_minhash_sig", qMinhashSig, qMinhashSigSql),
    Query("q_dedup_minhash", qDedupMinhash, qDedupMinhashSql),
    Query("q_dedup_clusters", qDedupClusters, qDedupClustersSql),
    Query("q_dedup_keepbest", qDedupKeepBest, qDedupKeepBestSql),
    Query("q_sample_stratified", qSampleStratified, qSampleStratifiedSql),
    Query("q_wor_sample", qWorSample, qWorSampleSql),
    Query("q_feature_hash", qFeatureHash, qFeatureHashSql),
    Query("q_rrf", qRrf, qRrfSql),
    Query("q_simhash_pairs", qSimhashPairs, qSimhashPairsSql),
    Query("q_embed_topk", qEmbedTopk, qEmbedTopkSql),
    Query("q_knn_label", qKnnLabel, qKnnLabelSql),
    Query("q_ann_ivf", qAnnIvf, qAnnIvfSql),
    Query("q_split_leakfree", qSplitLeakfree, qSplitLeakfreeSql),
  )
}
