package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Winnow
import graft.functions.RollingHashExpr

/** Partial-overlap detection queries: winnowing signatures and
  * containment pairs over `documents` (graft.dedup.Winnow).
  *
  * The DuckDB oracles replay the winnowing algorithm relationally —
  * per-char codepoint lists, k-gram hashes via the same polynomial fold
  * as the Spark expression (valid on the ASCII corpus: UTF-8 bytes ==
  * codepoints), and the rightmost-window-min rule via
  * list_position(list_reverse(...)) — so the hash compare pins the
  * Catalyst expression's deque algorithm against an independent
  * from-scratch implementation.
  */
object QueriesOverlap {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // Winnowing parameters: k-gram size 8, window 8 — any shared
  // normalized substring of >= k + w - 1 = 15 chars is guaranteed to
  // collide on >= 1 fingerprint; signature density ~2/(w+1) of k-grams.
  private val K = 8
  private val W = 8
  private val Threshold = 0.5
  private val MaxDf = 50L

  // Shared oracle CTE chain: normalized chars -> k-gram hashes ->
  // windows -> DISTINCT selected (pos, fp) per doc.
  private val selCte =
    s"""sl AS (SELECT doc_id,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
       |       FROM documents),
       |ch AS (SELECT doc_id,
       |         list_transform(regexp_split_to_array(s, ''),
       |                        c -> CAST(unicode(c) AS BIGINT)) AS cs
       |       FROM sl),
       |kh AS (SELECT doc_id,
       |         CASE WHEN len(cs) >= $K THEN
       |           list_transform(range(1, len(cs) - $K + 2), i ->
       |             list_reduce(
       |               list_prepend(CAST(0 AS BIGINT),
       |                            list_slice(cs, i, i + $K - 1)),
       |               (h, b) -> (h * ${RollingHashExpr.Base} + b)
       |                           % ${RollingHashExpr.Mod}))
       |         ELSE CAST([] AS BIGINT[]) END AS hs
       |       FROM ch),
       |win AS (SELECT doc_id, hs, least($W, len(hs)) AS we,
       |          unnest(range(1, len(hs) - least($W, len(hs)) + 2)) AS st
       |        FROM kh WHERE len(hs) > 0),
       |wsl AS (SELECT doc_id, st, we,
       |          list_slice(hs, st, st + we - 1) AS slc
       |        FROM win),
       |sel AS (SELECT DISTINCT doc_id,
       |          st + we
       |            - list_position(list_reverse(slc), list_min(slc))
       |            - 1 AS pos,
       |          list_min(slc) AS fp
       |        FROM wsl)""".stripMargin

  // ------------------------------------------------- winnow signatures
  def qWinnowSig(s: SparkSession, dir: String): DataFrame =
    Winnow.signatures(t(s, dir, "documents"), "doc_id", "text", K, W)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("fp"))

  val qWinnowSigSql: String =
    s"""WITH $selCte
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM sel""".stripMargin

  // ------------------------------------------------- containment pairs
  def qContainment(s: SparkSession, dir: String): DataFrame =
    Winnow.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      K, W, Threshold, MaxDf)

  val qContainmentSql: String =
    s"""WITH $selCte,
       |sets AS (SELECT DISTINCT doc_id, fp FROM sel),
       |sizes AS (SELECT doc_id, count(*) AS sig_size FROM sets GROUP BY 1),
       |hot AS (SELECT fp FROM sets GROUP BY fp HAVING count(*) > $MaxDf),
       |kept AS (SELECT * FROM sets
       |         WHERE fp NOT IN (SELECT fp FROM hot)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |            count(*) AS n_shared
       |          FROM kept a JOIN kept b USING (fp)
       |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared,
       |  sa.sig_size AS size_a, sb.sig_size AS size_b,
       |  CAST(n_shared AS DOUBLE) / CAST(sa.sig_size AS DOUBLE)
       |    AS containment_a,
       |  CAST(n_shared AS DOUBLE) / CAST(sb.sig_size AS DOUBLE)
       |    AS containment_b
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(n_shared AS DOUBLE) / CAST(sa.sig_size AS DOUBLE)
       |        >= $Threshold
       |   OR CAST(n_shared AS DOUBLE) / CAST(sb.sig_size AS DOUBLE)
       |        >= $Threshold""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_winnow_sig", qWinnowSig, qWinnowSigSql),
    Query("q_containment", qContainment, qContainmentSql),
  )
}
