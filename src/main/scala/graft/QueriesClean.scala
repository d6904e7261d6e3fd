package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean._

/** Cleaner-family queries (SURVEY §2.10) + DuckDB oracles.
  *
  * The testdata has no dirty Brazilian-government columns, so each query
  * synthesizes a deterministic dirty column from integer keys — the same
  * arithmetic runs on both engines (int->string casts are engine-stable;
  * double->string casts are NOT, hence decimal renderings in QA outputs).
  */
object QueriesClean {

  private val VerifiedAt = Timestamp.valueOf("2026-01-01 00:00:00")
  private val VerifiedAtSql = "TIMESTAMP '2026-01-01 00:00:00'"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------------------ geo clean
  // Synthetic lat/lon with all four defect classes keyed off event_id % 4:
  // comma decimals, garbage, Brazil-band misscale (1e-5 degrees), range.
  private def geoSynth(df: DataFrame): DataFrame = {
    val id = col("event_id")
    val latRaw = when(id % 4 === 0,
        concat(lit("-"), (id % 34).cast("string"), lit(","), (id % 9).cast("string")))
      .when(id % 4 === 1, lit("abc"))
      .when(id % 4 === 2, (-(id % 1800000) - 1500000).cast("string"))
      .otherwise((id % 200 - 100).cast("string"))
    val lonRaw = when(id % 4 === 0,
        concat(lit("-"), (id % 44 + 30).cast("string"), lit(","), (id % 9).cast("string")))
      .when(id % 4 === 1, lit(""))
      .when(id % 4 === 2, (-(id % 1800000) - 2800000).cast("string"))
      .otherwise((id % 400 - 200).cast("string"))
    df.select(id.as("event_id"), latRaw.as("lat"), lonRaw.as("lon"))
  }

  private val geoSynthSql =
    """SELECT event_id,
      |  CASE WHEN event_id % 4 = 0 THEN '-' || CAST(event_id % 34 AS VARCHAR) || ',' || CAST(event_id % 9 AS VARCHAR)
      |       WHEN event_id % 4 = 1 THEN 'abc'
      |       WHEN event_id % 4 = 2 THEN CAST(-(event_id % 1800000) - 1500000 AS VARCHAR)
      |       ELSE CAST(event_id % 200 - 100 AS VARCHAR) END AS lat,
      |  CASE WHEN event_id % 4 = 0 THEN '-' || CAST(event_id % 44 + 30 AS VARCHAR) || ',' || CAST(event_id % 9 AS VARCHAR)
      |       WHEN event_id % 4 = 1 THEN ''
      |       WHEN event_id % 4 = 2 THEN CAST(-(event_id % 1800000) - 2800000 AS VARCHAR)
      |       ELSE CAST(event_id % 400 - 200 AS VARCHAR) END AS lon
      |FROM events""".stripMargin

  private val geoMeta = TableMeta("src", "public", "events", Seq("event_id"))

  def qCleanGeo(s: SparkSession, dir: String): DataFrame =
    GeoPointCleaner(geoMeta, "lat", "lon", VerifiedAt, wktColumn = Some("point"))
      .clean(geoSynth(t(s, dir, "events"))).cleaned

  // SQL mirror of GeoFunctions.cleanLat/cleanLon/wktPoint (reference
  // raw-space misscale bands, strict comparisons).
  private def cleanCoordSql(raw: String, misscale: String => String, limit: Double) = {
    val parsed = s"TRY_CAST(replace(trim($raw), ',', '.') AS DOUBLE)"
    val scaled = s"CASE WHEN ${misscale(parsed)} THEN $parsed / 1e5 ELSE $parsed END"
    s"CASE WHEN ($scaled) BETWEEN -$limit AND $limit THEN ($scaled) ELSE NULL END"
  }
  private val latSql = cleanCoordSql("lat",
    d => s"(($d > ${-35.0 * 1e5} AND $d < -90.0) OR ($d > 90.0 AND $d < ${5.0 * 1e5}))",
    90.0)
  private val lonSql = cleanCoordSql("lon",
    d => s"($d > ${-76.0 * 1e5} AND $d < ${-29.0 * 1e5})", 180.0)

  val qCleanGeoSql: String =
    s"""WITH src AS ($geoSynthSql),
       |fixed AS (SELECT event_id, $latSql AS lat, $lonSql AS lon FROM src)
       |SELECT event_id, lat, lon,
       |  CASE WHEN lon IS NOT NULL AND lat IS NOT NULL THEN
       |    'POINT(' || CAST(CAST(lon AS DECIMAL(12,5)) AS VARCHAR) || ' ' ||
       |    CAST(CAST(lat AS DECIMAL(12,5)) AS VARCHAR) || ')'
       |  ELSE NULL END AS point
       |FROM fixed""".stripMargin

  // ------------------------------------------------------------ geo QA
  def qQaGeo(s: SparkSession, dir: String): DataFrame =
    GeoPointCleaner(geoMeta, "lat", "lon", VerifiedAt)
      .clean(geoSynth(t(s, dir, "events"))).qa

  private def qaGeoArmSql(colName: String, fixedSql: String, motivoNull: String) =
    s"""SELECT 'event_id' AS primary_keys_labels,
       |  CAST(event_id AS VARCHAR) AS primary_keys_values,
       |  'public' AS esquema, 'events' AS tabela, '$colName' AS coluna,
       |  $colName AS valor_original,
       |  CAST(CAST(($fixedSql) AS DECIMAL(12,5)) AS VARCHAR) AS valor_considerado,
       |  CASE WHEN ($fixedSql) IS NULL THEN 2 ELSE 1 END AS nivel_erro,
       |  CASE WHEN ($fixedSql) IS NULL THEN '$motivoNull' ELSE 'Coordenada corrigida' END AS motivo,
       |  $VerifiedAtSql AS datahora_verificacao
       |FROM src
       |WHERE ($colName IS NOT NULL AND trim($colName) <> '' AND ($fixedSql) IS NULL)
       |   OR (TRY_CAST(trim($colName) AS DOUBLE) IS DISTINCT FROM ($fixedSql))""".stripMargin

  val qQaGeoSql: String =
    s"""WITH src AS ($geoSynthSql)
       |${qaGeoArmSql("lat", latSql, "Latitude invalida")}
       |UNION ALL
       |${qaGeoArmSql("lon", lonSql, "Longitude invalida")}""".stripMargin

  // ------------------------------------------------------------ CPF clean
  // Seven literal cases covering every code path (FIXTURES.md A3 CPF).
  private val cpfCases = Seq(
    "529.982.247-25", // separators, valid -> CAST_FIX to digits
    "52998224725",    // valid, unchanged
    "52998224726",    // bad check digit -> null
    "00000000000",    // all-same -> null
    "5299822472",     // 10 digits: pad then checksum
    "ab529982247",    // garbage chars -> null
    "111.111.111-11") // all-same after strip -> null

  private def cpfSynth(df: DataFrame): DataFrame = {
    val m = col("c_custkey") % cpfCases.length
    val raw = cpfCases.zipWithIndex.tail.foldLeft(when(m === 0, lit(cpfCases.head))) {
      case (acc, (v, i)) => acc.when(m === i, lit(v))
    }
    df.select(col("c_custkey"), raw.as("cpf_raw"))
  }

  private val cpfSynthSql = {
    val arms = cpfCases.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '$v'" }.mkString(" ")
    s"SELECT c_custkey, CASE c_custkey % ${cpfCases.length} $arms END AS cpf_raw FROM customer"
  }

  def qCleanCpf(s: SparkSession, dir: String): DataFrame = {
    val src = cpfSynth(t(s, dir, "customer"))
    val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
    // strict mode: null-on-checksum-failure (the CpfFunctions.cpfClean
    // contract this query's oracle mirrors); the reference-faithful
    // cascade incl. its kept-after-CAST_NULL quirk is covered by q_qa_cpf
    CpfCleaner(meta, "cpf_raw", VerifiedAt, strict = true).clean(src).cleaned
      .withColumnRenamed("cpf_raw", "cpf_clean")
      .join(src, Seq("c_custkey"))
      .select(col("c_custkey"), col("cpf_raw"), col("cpf_clean"))
  }

  // SQL mirror of CpfFunctions: strip -> digits check -> pad -> all-same +
  // double mod-11 checksum. Digit sums generated to match the Scala side.
  val qCleanCpfSql: String = {
    val strip = "replace(replace(cpf_raw, '.', ''), '-', '')"
    val norm = s"CASE WHEN regexp_matches($strip, '^[0-9]{1,11}$$') THEN lpad($strip, 11, '0') END"
    def d(i: Int) = s"CAST(substr(n, $i, 1) AS INT)"
    def checksum(n: Int) =
      (1 to n).map(i => s"${d(i)} * ${n + 2 - i}").mkString(" + ")
    val valid =
      s"""n <> repeat(substr(n, 1, 1), 11)
         | AND ((${checksum(9)}) * 10 % 11) % 10 = ${d(10)}
         | AND ((${checksum(10)}) * 10 % 11) % 10 = ${d(11)}""".stripMargin
    s"""WITH src AS ($cpfSynthSql),
       |norm AS (SELECT c_custkey, cpf_raw, $norm AS n FROM src)
       |SELECT c_custkey, cpf_raw,
       |  CASE WHEN n IS NOT NULL AND ($valid) THEN n END AS cpf_clean
       |FROM norm""".stripMargin
  }

  // ------------------------------------------------------------ CPF QA
  // The reference's full _fix_cpf QA cascade (patchwork.py:623-711):
  // up to two rows per cell (pad-fix + separator-fix, or checksum-null +
  // separator-fix thanks to the reference's fall-through).
  def qQaCpf(s: SparkSession, dir: String): DataFrame = {
    val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
    CpfCleaner(meta, "cpf_raw", VerifiedAt)
      .clean(cpfSynth(t(s, dir, "customer"))).qa
  }

  val qQaCpfSql: String = {
    def d(i: Int) = s"CAST(substr(x, $i, 1) AS INT)"
    def checksum(n: Int) = (1 to n).map(i => s"${d(i)} * ${n + 2 - i}").mkString(" + ")
    def okFor(x: String) =
      s"""(x <> repeat(substr(x, 1, 1), 11)
         | AND ((${checksum(9)}) * 10 % 11) % 10 = ${d(10)}
         | AND ((${checksum(10)}) * 10 % 11) % 10 = ${d(11)})"""
        .stripMargin.replace("x", x)
    val padOk = okFor("padded")
    val fullOk = okFor("digits")
    def armSql(cond: String, nivel: Int, motivo: String, considered: String) =
      s"""SELECT 'c_custkey' AS primary_keys_labels,
         |  CAST(c_custkey AS VARCHAR) AS primary_keys_values,
         |  'public' AS esquema, 'customer' AS tabela, 'cpf_raw' AS coluna,
         |  cpf_raw AS valor_original, $considered AS valor_considerado,
         |  $nivel AS nivel_erro, '$motivo' AS motivo,
         |  $VerifiedAtSql AS datahora_verificacao
         |FROM f WHERE $cond""".stripMargin
    val arms = Seq(
      armSql("has_garbage", 2,
        "Valor desconsiderado por conter caracteres invalidos.",
        "CAST(NULL AS VARCHAR)"),
      armSql("NOT has_garbage AND zeroed", 2,
        "Valor desconsiderado por estar zerado.", "CAST(NULL AS VARCHAR)"),
      armSql("NOT has_garbage AND NOT zeroed AND allsame", 2,
        "Valor desconsiderado por conter 11 digitos repetidos.",
        "CAST(NULL AS VARCHAR)"),
      armSql(s"NOT has_garbage AND NOT zeroed AND NOT allsame AND short AND NOT $padOk", 2,
        "Valor desconsiderado por conter menos de 11 digitos.",
        "CAST(NULL AS VARCHAR)"),
      armSql(s"NOT has_garbage AND NOT zeroed AND NOT allsame AND short AND $padOk", 1,
        "Preenchidos zeros a esquerda por conter menos de 11 digitos.",
        "padded"),
      armSql(s"NOT has_garbage AND NOT zeroed AND NOT allsame AND NOT short AND NOT $fullOk", 2,
        "Valor desconsiderado pois os 2 digitos verificadores nao conferem.",
        "CAST(NULL AS VARCHAR)"),
      armSql(
        s"""NOT has_garbage AND NOT zeroed AND NOT allsame
           | AND ((short AND $padOk) OR NOT short)
           | AND length(cpf_raw) > length(CASE WHEN short THEN padded ELSE digits END)""".stripMargin,
        1, "Retirados separadores do valor do CPF.",
        "CASE WHEN short THEN padded ELSE digits END"))
    s"""WITH src AS ($cpfSynthSql),
       |e AS (SELECT c_custkey, cpf_raw,
       |    regexp_matches(replace(replace(cpf_raw, '.', ''), '-', ''), '[^0-9]') AS has_garbage,
       |    substr(regexp_replace(cpf_raw, '[^0-9]', '', 'g'), 1, 11) AS digits
       |  FROM src WHERE cpf_raw IS NOT NULL AND trim(cpf_raw) <> ''),
       |f AS (SELECT *, (digits = '' OR TRY_CAST(digits AS BIGINT) < 2) AS zeroed,
       |    digits = repeat(substr(digits, 1, 1), length(digits)) AS allsame,
       |    length(digits) < 11 AS short, lpad(digits, 11, '0') AS padded
       |  FROM e)
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ------------------------------------------------------------- UF clean
  private val ufCases = Seq("sp", "RJ", "xx", " mg ", "ZZ", "Df")

  def qCleanUf(s: SparkSession, dir: String): DataFrame = {
    val m = col("c_custkey") % ufCases.length
    val raw = ufCases.zipWithIndex.tail.foldLeft(when(m === 0, lit(ufCases.head))) {
      case (acc, (v, i)) => acc.when(m === i, lit(v))
    }
    val src = t(s, dir, "customer").select(col("c_custkey"), raw.as("uf_raw"))
    val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
    UfCleaner(meta, "uf_raw", VerifiedAt).clean(src).cleaned
      .withColumnRenamed("uf_raw", "uf_clean")
  }

  val qCleanUfSql: String = {
    val arms = ufCases.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '$v'" }.mkString(" ")
    val ufList = UfCleaner.ValidUfs.map(u => s"'$u'").mkString(", ")
    s"""WITH src AS (SELECT c_custkey, CASE c_custkey % ${ufCases.length} $arms END AS uf_raw FROM customer)
       |SELECT c_custkey,
       |  CASE WHEN upper(trim(uf_raw)) IN ($ufList) THEN upper(trim(uf_raw)) END AS uf_clean
       |FROM src""".stripMargin
  }

  // ----------------------------------------------------------- text crop
  def qCleanTextcrop(s: SparkSession, dir: String): DataFrame = {
    val meta = TableMeta("src", "public", "documents", Seq("doc_id"))
    TextCropperCleaner(meta, "text", 150, VerifiedAt)
      .clean(t(s, dir, "documents")).cleaned
  }

  val qCleanTextcropSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) > 150 THEN substr(text, 1, 147) || '...'
      |       ELSE text END AS text,
      |  lang, source, n_chars
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- chain (§3.3)
  // The patchwork DAG composition: UF cleaner then text cropper chained,
  // QA unioned across stages; stage 2's QA reflects stage-1-cleaned data.
  private def chainSynth(df: DataFrame): DataFrame = {
    val m = col("c_custkey") % 4
    df.select(col("c_custkey"),
      when(m === 0, lit("sp")).when(m === 1, lit("XX"))
        .when(m === 2, lit("RJ")).otherwise(lit(" mg ")).as("uf"),
      when(col("c_custkey") % 3 === 0,
        concat(lit("LONGTEXT-"), col("c_name"), lit("-"), col("c_name")))
        .otherwise(col("c_name")).as("nm"))
  }

  private val chainSynthSql =
    """SELECT c_custkey,
      |  CASE c_custkey % 4 WHEN 0 THEN 'sp' WHEN 1 THEN 'XX'
      |       WHEN 2 THEN 'RJ' ELSE ' mg ' END AS uf,
      |  CASE WHEN c_custkey % 3 = 0
      |       THEN 'LONGTEXT-' || c_name || '-' || c_name
      |       ELSE c_name END AS nm
      |FROM customer""".stripMargin

  def qChainClean(s: SparkSession, dir: String): DataFrame = {
    val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
    Cleaner.chain(chainSynth(t(s, dir, "customer")), Seq(
      UfCleaner(meta, "uf", VerifiedAt),
      TextCropperCleaner(meta, "nm", 20, VerifiedAt))).cleaned
  }

  def qChainQa(s: SparkSession, dir: String): DataFrame = {
    val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
    Cleaner.chain(chainSynth(t(s, dir, "customer")), Seq(
      UfCleaner(meta, "uf", VerifiedAt),
      TextCropperCleaner(meta, "nm", 20, VerifiedAt))).qa
  }

  private val ufListSql = UfCleaner.ValidUfs.map(u => s"'$u'").mkString(", ")

  val qChainCleanSql: String =
    s"""WITH src AS ($chainSynthSql)
       |SELECT c_custkey,
       |  CASE WHEN upper(trim(uf)) IN ($ufListSql) THEN upper(trim(uf)) END AS uf,
       |  CASE WHEN length(nm) > 20 THEN substr(nm, 1, 17) || '...' ELSE nm END AS nm
       |FROM src""".stripMargin

  val qChainQaSql: String =
    s"""WITH src AS ($chainSynthSql),
       |fixed AS (SELECT c_custkey, uf, nm,
       |  CASE WHEN upper(trim(uf)) IN ($ufListSql) THEN upper(trim(uf)) END AS uf_f,
       |  CASE WHEN length(nm) > 20 THEN substr(nm, 1, 17) || '...' ELSE nm END AS nm_f
       |  FROM src)
       |SELECT 'c_custkey' AS primary_keys_labels,
       |  CAST(c_custkey AS VARCHAR) AS primary_keys_values,
       |  'public' AS esquema, 'customer' AS tabela, 'uf' AS coluna,
       |  uf AS valor_original, uf_f AS valor_considerado,
       |  CASE WHEN uf_f IS NULL THEN 2 ELSE 1 END AS nivel_erro,
       |  CASE WHEN uf_f IS NULL THEN 'UF invalida' ELSE 'UF normalizada' END AS motivo,
       |  $VerifiedAtSql AS datahora_verificacao
       |FROM fixed WHERE uf IS DISTINCT FROM uf_f
       |UNION ALL
       |SELECT 'c_custkey', CAST(c_custkey AS VARCHAR), 'public', 'customer', 'nm',
       |  nm, nm_f,
       |  CASE WHEN nm_f IS NULL THEN 2 ELSE 1 END,
       |  CASE WHEN nm_f IS NULL THEN 'Texto invalido'
       |       ELSE 'Texto truncado para 20 caracteres' END,
       |  $VerifiedAtSql
       |FROM fixed WHERE nm IS DISTINCT FROM nm_f""".stripMargin

  // ---------------------------------------------------------- patch merge
  // Patch overwrites cells (including null cells) for keyed rows; drop
  // lines remove rows whose key is in the QA drop set.
  def qPatchApply(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
    val patch = base.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 14 === 0, lit(null).cast("double"))
          .otherwise(lit(0.0)).as("c_acctbal"),
        lit("PATCHED").as("c_mktsegment"))
    val dropKeys = base.filter(col("c_acctbal") < -900)
      .select(col("c_custkey"))
    PatchMerge.consolidate(base, Seq(patch), Some(dropKeys), Seq("c_custkey"))
  }

  val qPatchApplySql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CASE WHEN c_custkey % 7 = 0 THEN
      |    (CASE WHEN c_custkey % 14 = 0 THEN NULL ELSE 0.0 END)
      |  ELSE c_acctbal END AS c_acctbal,
      |  CASE WHEN c_custkey % 7 = 0 THEN 'PATCHED' ELSE c_mktsegment END AS c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM customer d
      |  WHERE d.c_acctbal < -900 AND d.c_custkey = c.c_custkey)""".stripMargin

  // --------------------------------------------------- dedup DROP_LINE QA
  def qDedupDropped(s: SparkSession, dir: String): DataFrame = {
    val meta = TableMeta("src", "public", "orders", Seq("o_custkey"))
    DuplicatedRowCleaner(meta, Seq("o_orderdate", "o_orderkey"), VerifiedAt)
      .clean(t(s, dir, "orders")).qa
  }

  val qDedupDroppedSql: String =
    s"""SELECT 'o_custkey' AS primary_keys_labels,
       |  CAST(o_custkey AS VARCHAR) AS primary_keys_values,
       |  'public' AS esquema, 'orders' AS tabela, 'o_custkey' AS coluna,
       |  CAST(NULL AS VARCHAR) AS valor_original,
       |  CAST(NULL AS VARCHAR) AS valor_considerado,
       |  3 AS nivel_erro, 'Registro duplicado' AS motivo,
       |  $VerifiedAtSql AS datahora_verificacao
       |FROM (SELECT o_custkey, row_number() OVER
       |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
       |      FROM orders) WHERE rn > 1""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_clean_geo", qCleanGeo, qCleanGeoSql),
    Query("q_qa_geo", qQaGeo, qQaGeoSql),
    Query("q_clean_cpf", qCleanCpf, qCleanCpfSql),
    Query("q_qa_cpf", qQaCpf, qQaCpfSql),
    Query("q_clean_uf", qCleanUf, qCleanUfSql),
    Query("q_clean_textcrop", qCleanTextcrop, qCleanTextcropSql),
    Query("q_patch_apply", qPatchApply, qPatchApplySql),
    Query("q_chain_clean", qChainClean, qChainCleanSql),
    Query("q_chain_qa", qChainQa, qChainQaSql),
    Query("q_dedup_dropped", qDedupDropped, qDedupDroppedSql),
  )
}
