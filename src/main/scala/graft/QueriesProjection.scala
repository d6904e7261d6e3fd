package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{HyperplaneLSH, RandomProjection}

/** Random-projection queries over `embeddings`: the raw reduced vectors
  * (q_rand_proj) and the screened-then-exactly-rescored top-k
  * (q_proj_topk). The oracles rebuild the seeded planes as VALUES
  * literals (the hyperplane-LSH treatment) and replay the fixed-shape
  * reduced arithmetic, so the hash compare pins projection values AND
  * the screen's candidate cut bit-for-bit.
  */
object QueriesProjection {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val RDims = 8
  private val Seed = 29L
  private val K = 3
  private val CandK = 20
  private val NQueries = 10

  private def planesValues: String =
    HyperplaneLSH.planesSqlValues(HyperplaneLSH.planes(RDims, 64, Seed))

  // Projection CTE shared by both oracles: exact decimal sums per (vec,
  // plane), cast to double — the same value DecimalDotExpr produces.
  // Each product is routed through VARCHAR before the decimal cast:
  // DuckDB renders the shortest round-trip representation, so the scale-12
  // rounding happens on the same digits BigDecimal.valueOf sees on the
  // Spark side (Double.toString semantics). A direct double->decimal cast
  // rounds the exact binary value instead, which lands on the other side
  // of a half-boundary for ~1 in 4000 products.
  private def projCte: String =
    s"""planes(dim, i, w) AS (VALUES
       |$planesValues),
       |proj AS (
       |  SELECT e.vec_id, p.dim,
       |    CAST(SUM(CAST(CAST(CAST(e.embedding[p.i] AS DOUBLE) * CAST(p.w AS DOUBLE)
       |      AS VARCHAR) AS DECIMAL(20,12))) AS DOUBLE) AS v
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.dim)""".stripMargin

  // ------------------------------------------------- reduced vectors
  def qRandProj(s: SparkSession, dir: String): DataFrame =
    RandomProjection.project(t(s, dir, "embeddings"), "embedding", RDims, Seed)
      .select(col("vec_id"), posexplode(col("rvec")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))

  val qRandProjSql: String =
    s"""WITH $projCte
       |SELECT vec_id, CAST(dim AS BIGINT) AS dim, v FROM proj""".stripMargin

  // ------------------------------------- screened + rescored top-k
  def qProjTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    RandomProjection.topKViaProjection(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding",
      K, CandK, RDims, Seed)
  }

  val qProjTopkSql: String = {
    // Fixed-shape reduced arithmetic: left-associated sums, identical
    // expression tree to RandomProjection.rDot.
    def rdot(a: String, b: String) =
      (0 until RDims).map(j => s"$a.v$j * $b.v$j").mkString(" + ")
    val pivots = (0 until RDims)
      .map(j => s"max(CASE WHEN dim = $j THEN v END) AS v$j").mkString(", ")
    val sq = (0 until RDims).map(j => s"v$j * v$j").mkString(" + ")
    s"""WITH $projCte,
       |pv AS (SELECT vec_id, $pivots FROM proj GROUP BY vec_id),
       |rn AS (SELECT *, sqrt($sq) AS r_norm FROM pv),
       |rsim AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
       |    (${rdot("q", "c")}) / (q.r_norm * c.r_norm) AS r_sim
       |  FROM rn q JOIN rn c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
       |cand AS (
       |  SELECT query_id, nn_id FROM rsim WHERE r_sim IS NOT NULL
       |  QUALIFY row_number()
       |    OVER (PARTITION BY query_id ORDER BY r_sim DESC, nn_id) <= $CandK),
       |n AS (SELECT vec_id, embedding,
       |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
       |    AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS norm_sq
       |  FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY vec_id, embedding),
       |res AS (
       |  SELECT cand.query_id, cand.nn_id,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
       |      AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS dot,
       |    any_value(q.norm_sq) AS qn, any_value(c.norm_sq) AS cn
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n c ON c.vec_id = cand.nn_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY cand.query_id, cand.nn_id),
       |scored AS (
       |  SELECT query_id, nn_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
       |      AS cos_sim
       |  FROM res)
       |SELECT query_id, rank, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos_sim DESC, nn_id) AS rank
       |  FROM scored) WHERE rank <= $K""".stripMargin
  }

  // -------------------------------------- binary signature + hamming
  // Sign-bit quantization: 64 coordinates -> one packed BIGINT; top-k by
  // exact cosine after a Hamming screen. The oracle rebuilds the packed
  // signatures from the raw floats (strict `> 0` bit rule), replays the
  // (hamming ASC, id ASC) candidate cut, and rescores with the shared
  // decimal-dot idiom — the screen's integer geometry makes this oracle
  // exact with no literal shipping at all.
  private val HamK = 3
  private val HamCandK = 12

  def qHammingTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.similarity.BinaryQuantize.hammingTopK(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding",
      HamK, HamCandK)
  }

  val qHammingTopkSql: String = {
    val powArm = HyperplaneLSH.powArmSql(64)
    s"""WITH sig AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN embedding[i] > 0
       |      THEN (CASE i - 1 $powArm END) ELSE 0 END) AS BIGINT) AS sig
       |  FROM embeddings CROSS JOIN range(1, 65) t(i)
       |  GROUP BY vec_id),
       |cand AS (
       |  SELECT query_id, nn_id, hamming FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
       |      CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming
       |    FROM sig q JOIN sig c
       |      ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY hamming, nn_id) <= $HamCandK),
       |n AS (SELECT vec_id, embedding,
       |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
       |    AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS norm_sq
       |  FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY vec_id, embedding),
       |res AS (
       |  SELECT cand.query_id, cand.nn_id, any_value(cand.hamming) AS hamming,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
       |      AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS dot,
       |    any_value(q.norm_sq) AS qn, any_value(c.norm_sq) AS cn
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n c ON c.vec_id = cand.nn_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY cand.query_id, cand.nn_id),
       |scored AS (
       |  SELECT query_id, nn_id, hamming,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
       |      AS cos_sim
       |  FROM res)
       |SELECT query_id, rank, nn_id, hamming, cos_sim FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos_sim DESC, nn_id) AS rank
       |  FROM scored) WHERE rank <= $HamK""".stripMargin
  }

  // --------------------------------------------- embedding preprocessing
  // L2 normalization (unit vectors — the preprocessing step before any
  // cosine structure is built) and per-label mean pooling (the
  // chunk→document embedding composition). Both exact-decimal dots/sums
  // with one fixed-shape double division per element.
  def qEmbedNorm(s: SparkSession, dir: String): DataFrame = {
    val e = graft.similarity.CosineSearch.withNormSq(
      t(s, dir, "embeddings"), "embedding")
    e.filter(col("norm_sq").cast("double") > 0.0)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .join(e.select(col("vec_id"), col("norm_sq")), Seq("vec_id"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        (col("x").cast("double") / sqrt(col("norm_sq").cast("double")))
          .as("v"))
  }

  val qEmbedNormSql: String =
    """WITH n AS (SELECT vec_id, embedding,
      |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
      |    AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS norm_sq
      |  FROM embeddings CROSS JOIN range(1, 65) t(i)
      |  GROUP BY vec_id, embedding)
      |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |  CAST(embedding[i] AS DOUBLE) / sqrt(CAST(norm_sq AS DOUBLE)) AS v
      |FROM n CROSS JOIN range(1, 65) t(i)
      |WHERE CAST(norm_sq AS DOUBLE) > 0.0""".stripMargin

  def qEmbedPool(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast("double").cast("decimal(20,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("mean_v"))

  // VARCHAR waypoint before the decimal cast: Spark's double->decimal
  // rounds the shortest-round-trip digits (BigDecimal.decimal), DuckDB's
  // direct cast rounds the exact binary value — the same half-boundary
  // divergence q_rand_proj documented.
  val qEmbedPoolSql: String =
    """SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
      |  CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
      |    AS DECIMAL(20,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS mean_v
      |FROM embeddings CROSS JOIN range(1, 65) t(i)
      |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------- hard negatives
  // Contrastive-training prep: each query's HARDEST legitimate negative
  // — the most similar corpus vector BELOW the near-duplicate threshold
  // (an above-threshold pick would be a false negative: the same
  // content). Exact decimal cosine + bounded top-1 aggregation; the
  // oracle replays scoring, threshold, and argmax.
  private val HardNegThreshold = 0.95

  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.CosineSearch
    val e = t(s, dir, "embeddings")
    val c = CosineSearch.withNormSq(e, "embedding")
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_vec"),
        col("norm_sq").as("nn_norm_sq"))
    val q = CosineSearch.withNormSq(e.filter(col("vec_id") < NQueries),
        "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("norm_sq").as("q_norm_sq"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cos_sim", CosineSearch.cosine(
        CosineSearch.dotDecimal(col("q_vec"), col("nn_vec")),
        col("q_norm_sq"), col("nn_norm_sq")))
      .filter(col("cos_sim") < HardNegThreshold)
      .select(col("query_id"), col("nn_id"), col("cos_sim"))
    graft.operators.TopKAggregator.topKPerGroup(
        scored, Seq("query_id"), "nn_id", "cos_sim", 1)
      .select(col("query_id"), col("nn_id").as("hard_negative_id"),
        col("cos_sim"))
  }

  val qHardNegativesSql: String =
    s"""WITH n AS (SELECT vec_id, embedding,
       |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
       |    AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS norm_sq
       |  FROM embeddings CROSS JOIN range(1, 65) t(i)
       |  GROUP BY vec_id, embedding),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
       |    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
       |      AS DECIMAL(20,12))) AS DECIMAL(30,12)) AS dot,
       |    any_value(q.norm_sq) AS qn, any_value(c.norm_sq) AS cn
       |  FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id
       |  CROSS JOIN range(1, 65) t(i)
       |  GROUP BY q.vec_id, c.vec_id),
       |scored AS (
       |  SELECT query_id, nn_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
       |      AS cos_sim
       |  FROM pairs)
       |SELECT query_id, nn_id AS hard_negative_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, nn_id) AS rn
       |  FROM scored WHERE cos_sim < $HardNegThreshold) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_hamming_topk", qHammingTopk, qHammingTopkSql),
    Query("q_hard_negatives", qHardNegatives, qHardNegativesSql),
    Query("q_embed_norm", qEmbedNorm, qEmbedNormSql),
    Query("q_embed_pool", qEmbedPool, qEmbedPoolSql),
    Query("q_rand_proj", qRandProj, qRandProjSql),
    Query("q_proj_topk", qProjTopk, qProjTopkSql),
  )
}
