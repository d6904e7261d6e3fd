package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphMetrics

/** Round-11 query group: community-structure closure of the graph family
  * — modularity scoring of a node->community assignment and
  * neighborhood-overlap link prediction, both on the parts co-order
  * graph (the q_triangles graph) so the oracles replay the naive
  * relational definitions over the same edges.
  */
object QueriesGraph {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def coOrderEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
  }

  private val sqlUnd =
    """und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node)""".stripMargin

  // ----------------------------------------------------------- modularity
  // Newman modularity of the brand partition: does the co-order graph
  // cluster along part brands? Communities come from a REAL attribute
  // (p_brand, 25 values) so the score is meaningful, and in production
  // the assignment is LabelProp's output. All-integer numerators
  // (contrib_x4m2 = 4m*e_c - d_c^2); the one double division is the
  // closing modularity = sum(contrib)/4m^2.
  def qModularity(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.modularity(
      coOrderEdges(s, dir), "src", "dst",
      t(s, dir, "part").select(col("p_partkey").as("node"),
        col("p_brand").as("comm")),
      "node", "comm")

  val qModularitySql: String =
    s"""WITH $sqlUnd,
       |lab AS (SELECT p_partkey AS node, p_brand AS comm FROM part),
       |bycomm AS (
       |  SELECT comm, count(*) AS n_nodes,
       |    CAST(sum(coalesce(degree, 0)) AS BIGINT) AS degree_sum
       |  FROM lab LEFT JOIN deg USING (node) GROUP BY comm),
       |intra AS (
       |  SELECT la.comm AS comm, count(*) AS intra_edges
       |  FROM und JOIN lab la ON la.node = und.a
       |           JOIN lab lb ON lb.node = und.b
       |  WHERE la.comm = lb.comm GROUP BY la.comm),
       |mm AS (SELECT count(*) AS m FROM und),
       |pc AS (
       |  SELECT b.comm, b.n_nodes,
       |    CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       |    b.degree_sum,
       |    CAST(4 * m * CAST(coalesce(i.intra_edges, 0) AS BIGINT)
       |      - b.degree_sum * b.degree_sum AS BIGINT) AS contrib_x4m2,
       |    m
       |  FROM bycomm b LEFT JOIN intra i USING (comm) CROSS JOIN mm),
       |tot AS (
       |  SELECT CAST(sum(contrib_x4m2) AS DOUBLE)
       |    / (4.0 * CAST(max(m) AS DOUBLE) * CAST(max(m) AS DOUBLE))
       |    AS modularity
       |  FROM pc)
       |SELECT comm, n_nodes, intra_edges, degree_sum, contrib_x4m2, m,
       |  modularity
       |FROM pc CROSS JOIN tot""".stripMargin

  // ------------------------------------------------------ link prediction
  // Top-50 most-likely missing co-order edges by neighborhood overlap:
  // common neighbors, integer-ppm Jaccard, fixed-point resource
  // allocation. The operator's degree-carrying wedge join + LeftAnti
  // removal must be invisible next to the oracle's naive self-joins.
  // Runs the PRODUCTION configuration — wedge centers capped at degree
  // 64, replicated exactly in the oracle — because the uncapped
  // sum C(deg(w), 2) fan measured wall-clock super-linear at 10× volume
  // (47 s -> 620 s, exponent 1.12; scalecheck row `link_predict_uncapped`)
  // and no orientation trick exists for OPEN wedges. GraphMetricsSpec
  // pins the uncapped form exact on small graphs.
  private val LinkK = 50
  private val LinkMaxWedgeDeg = 64

  def qLinkPredict(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.linkPredictTopK(coOrderEdges(s, dir), "src", "dst", LinkK,
      maxWedgeDegree = LinkMaxWedgeDeg)

  val qLinkPredictSql: String =
    s"""WITH $sqlUnd,
       |adj AS (SELECT a AS w, b AS n FROM und
       |        UNION ALL SELECT b, a FROM und),
       |cen AS (SELECT adj.w, adj.n, d.degree AS dw
       |        FROM adj JOIN deg d ON d.node = adj.w
       |        WHERE d.degree <= $LinkMaxWedgeDeg),
       |wed AS (SELECT l.n AS u, r.n AS v, l.dw
       |        FROM cen l JOIN cen r ON l.w = r.w AND l.n < r.n),
       |sc AS (SELECT u, v, count(*) AS cn,
       |         CAST(sum(1000000000000 // dw) AS BIGINT) AS ra_micro
       |       FROM wed GROUP BY u, v),
       |np AS (SELECT * FROM sc
       |       WHERE NOT EXISTS (SELECT 1 FROM und
       |                         WHERE und.a = sc.u AND und.b = sc.v))
       |SELECT np.u, np.v, np.cn,
       |  CAST((1000000 * np.cn) // (du.degree + dv.degree - np.cn)
       |    AS BIGINT) AS jacc_ppm,
       |  np.ra_micro
       |FROM np JOIN deg du ON du.node = np.u
       |        JOIN deg dv ON dv.node = np.v
       |ORDER BY np.cn DESC, np.ra_micro DESC, np.u, np.v
       |LIMIT $LinkK""".stripMargin

  // ----------------------------------------------------------------- hits
  // Kleinberg hubs/authorities on the DIRECTED customer→supplier
  // purchase graph (2 rounds): hubs rank buyers by how much
  // authoritative supply they reach, authorities rank suppliers by the
  // hub mass pointing at them — the two-sided ranking one PageRank over
  // the symmetrized graph cannot produce. Max-normalized (order-
  // independent, sqrt-free) with float-quantized 2^48 fixed-point
  // contribution sums — the q_pagerank parity idiom — so both score
  // columns hash-compare bit-exactly. Scores here stay far above the
  // 2^-25 float-integrality floor (Hits scaladoc): min nonzero auth is
  // 1/max_indegree.
  private val HitsIters = 2

  def qHits(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .distinct()
    graft.operators.Hits.run(edges, "src", "dst", HitsIters)
  }

  val qHitsSql: String = {
    val fp = graft.operators.PageRank.FpScale
    def fq(c: String) = s"CAST(CAST(CAST($c AS FLOAT) AS DOUBLE) * $fp AS BIGINT)"
    def half(edgeFrom: String, edgeTo: String, in: String, inCol: String,
        out: String, outCol: String) =
      s"""${out}raw AS (SELECT n.node,
         |    CAST(coalesce(c.s, 0) AS DOUBLE) / $fp AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.$edgeTo AS t, sum(${fq(s"i.$inCol")}) AS s
         |    FROM e JOIN $in i ON e.$edgeFrom = i.node GROUP BY e.$edgeTo) c
         |  ON n.node = c.t),
         |${out}m AS (SELECT max(raw) AS m FROM ${out}raw),
         |$out AS (SELECT node,
         |    CASE WHEN m > 0.0 THEN raw / m ELSE 0.0 END AS $outCol
         |  FROM ${out}raw CROSS JOIN ${out}m)""".stripMargin
    val rounds = (1 to HitsIters).map { r =>
      half("src", "dst", s"h${r - 1}", "hub", s"a$r", "auth") + ",\n" +
        half("dst", "src", s"a$r", "auth", s"h$r", "hub")
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |         's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS node FROM e
       |          UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$rounds
       |SELECT h.node, h.hub, a.auth
       |FROM h$HitsIters h JOIN a$HitsIters a USING (node)""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_modularity", qModularity, qModularitySql),
    Query("q_link_predict", qLinkPredict, qLinkPredictSql),
    Query("q_hits", qHits, qHitsSql),
  )
}
