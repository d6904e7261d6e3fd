package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import QueriesText.sqlCollapse

/** Beyond-reference query group, denoising-objective prep family:
  * T5 span corruption, BERT-style MLM masking, fill-in-the-middle — the
  * md5-deterministic training-objective transforms over `documents`,
  * token-exact against their DuckDB oracles. Split out of
  * [[QueriesText]]; see also [[QueriesTextDedup]].
  */
object QueriesTextObjectives {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // T5-style span corruption: deterministic md5 span starts, merged
  // runs, numbered sentinels — the full denoising-objective prep
  // replayed token-for-token by the oracle (string_agg ORDER BY pos on
  // the DuckDB side, order-pinned array fold on the Spark side).
  def qSpanCorrupt(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanCorrupt.corrupt(
      t(s, dir, "documents"), "doc_id", "text")

  val qSpanCorruptSql: String = {
    val foldKey = "(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))"
    val fold =
      s"list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5($foldKey), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH toks AS (
       |  SELECT doc_id, tok, pos FROM (
       |    SELECT doc_id, unnest(ws) AS tok,
       |      unnest(range(len(ws))) AS pos
       |    FROM (SELECT doc_id,
       |      regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |      FROM documents) d)
       |  WHERE tok <> ''),
       |flags AS (
       |  SELECT doc_id, tok, pos,
       |    CASE WHEN $fold % 20 = 0 THEN 1 ELSE 0 END AS start
       |  FROM toks),
       |m AS (
       |  SELECT doc_id, tok, pos,
       |    max(start) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS masked
       |  FROM flags),
       |o AS (
       |  SELECT doc_id, tok, pos, masked,
       |    CASE WHEN masked AND coalesce(NOT lag(masked) OVER (
       |        PARTITION BY doc_id ORDER BY pos), TRUE)
       |      THEN 1 ELSE 0 END AS opens
       |  FROM m),
       |k AS (
       |  SELECT doc_id, tok, pos, masked, opens,
       |    sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) - 1 AS kk
       |  FROM o),
       |pieces AS (
       |  SELECT doc_id, pos, masked,
       |    CASE WHEN NOT masked THEN tok
       |         WHEN opens = 1 THEN '<extra_id_' || CAST(kk AS VARCHAR) || '>'
       |    END AS src_piece,
       |    CASE WHEN opens = 1 THEN '<extra_id_' || CAST(kk AS VARCHAR)
       |           || '> ' || tok
       |         WHEN masked THEN tok
       |    END AS tgt_piece
       |  FROM k)
       |SELECT doc_id,
       |  coalesce(string_agg(src_piece, ' ' ORDER BY pos), '') AS corrupted,
       |  coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target,
       |  count(*) AS n_tokens,
       |  CAST(count(*) FILTER (masked) AS BIGINT) AS n_masked
       |FROM pieces GROUP BY 1""".stripMargin
  }

  // BERT-style MLM masking: 15% selection, 80/10/10 mask/random/keep,
  // doc-local replacement draw — all md5 arithmetic, replayed by the
  // oracle with the unnest + ordered-string_agg formulation.
  def qMlmMask(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanCorrupt.mlm(t(s, dir, "documents"), "doc_id", "text")

  val qMlmMaskSql: String = {
    def fold(tag: String) =
      s"list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':$tag:' " +
        s"|| CAST(pos AS VARCHAR)), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |  FROM documents),
       |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM d
       |      WHERE len(ws) > 0 AND ws[1] <> ''),
       |toks AS (
       |  SELECT doc_id, n, ws, unnest(ws) AS tok,
       |    unnest(range(len(ws))) AS pos
       |  FROM b),
       |m AS (
       |  SELECT doc_id, n, pos, tok,
       |    ${fold("m1")} % 100 < 15 AS sel,
       |    ${fold("m2")} % 10 AS action,
       |    ws[CAST(${fold("m3")} % n + 1 AS INT)] AS repl
       |  FROM toks),
       |p AS (
       |  SELECT doc_id, n, pos, tok, sel,
       |    CASE WHEN NOT sel THEN tok
       |         WHEN action <= 7 THEN '[MASK]'
       |         WHEN action = 8 THEN repl
       |         ELSE tok END AS out_tok
       |  FROM m)
       |SELECT doc_id,
       |  string_agg(out_tok, ' ' ORDER BY pos) AS masked,
       |  coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (sel), '')
       |    AS labels,
       |  CAST(any_value(n) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (sel) AS BIGINT) AS n_selected
       |FROM p GROUP BY 1""".stripMargin
  }

  // Fill-in-the-middle: md5-drawn cut points, PSM rendering — map-side
  // only; the oracle replays draw arithmetic and 1-based list slicing.
  def qFim(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanCorrupt.fim(t(s, dir, "documents"), "doc_id", "text")

  val qFimSql: String = {
    def fold(tag: String) =
      s"list_reduce(list_transform(regexp_split_to_array(" +
        s"substr(md5(CAST(doc_id AS VARCHAR) || '$tag'), 1, 6), ''), " +
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(${sqlCollapse("text")}), ' ') AS ws
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
       |    ${fold(":f1")} % (CAST(len(ws) AS BIGINT) + 1) AS c1
       |  FROM d WHERE len(ws) > 0 AND ws[1] <> ''),
       |c AS (
       |  SELECT doc_id, ws, n, c1,
       |    c1 + ${fold(":f2")} % (n - c1 + 1) AS c2
       |  FROM b)
       |SELECT doc_id, n AS n_tokens, c1, c2,
       |  -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL
       |  -- (Spark's array_join is ''), and || would poison the row
       |  '<PRE> ' || coalesce(array_to_string(ws[1:CAST(c1 AS INT)], ' '), '')
       |    || ' <SUF> ' || coalesce(array_to_string(
       |      ws[CAST(c2 + 1 AS INT):CAST(n AS INT)], ' '), '')
       |    || ' <MID> ' || coalesce(array_to_string(
       |      ws[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' '), '') AS fim
       |FROM c""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_span_corrupt", qSpanCorrupt, qSpanCorruptSql),
    Query("q_fim", qFim, qFimSql),
    Query("q_mlm_mask", qMlmMask, qMlmMaskSql),
  )
}
