package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.enrich.DistanceEnrichment
import graft.functions.DateFunctions
import graft.meta.LoadInfo
import graft.multimodal.MultimodalOps
import graft.streaming.StreamingSync

/** Remaining operator families: audit log, external enrichment
  * (mapPartitions), event-time windows (streaming-equivalent batch),
  * multimodal frame sampling, date helpers, sorts/limits, set ops.
  */
object QueriesOps {

  private val LoadAt = Timestamp.valueOf("2026-01-01 00:00:00")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // -------------------------------------------------------------- audit
  // K10 (load_info.py:50-103): one audit row per load with the row count.
  def qAudit(s: SparkSession, dir: String): DataFrame =
    LoadInfo.audit(t(s, dir, "lineitem"),
      vdb = "testdata", schema = "sf", table = "lineitem",
      user = "graft", loadType = "full", at = LoadAt)

  val qAuditSql: String =
    """SELECT 'testdata' AS no_vdb, 'sf' AS no_schema,
      |  'lineitem' AS no_tabela, 'graft' AS no_usuario, 'full' AS tp_carga,
      |  TIMESTAMP '2026-01-01 00:00:00' AS dt_consumo,
      |  count(*) AS qt_linhas
      |FROM lineitem""".stripMargin

  // ----------------------------------------------------------- enrichment
  // P8 + §2.11 OSRM analog: candidate filter (coords present, distance
  // still null), then per-partition service calls (mapPartitions) — the
  // FlatEarthService keeps it deterministic so the oracle replicates it.
  private def coordSynth(df: DataFrame): DataFrame = {
    val id = col("event_id")
    df.select(
      id.as("event_id"),
      ((id % 120).cast("double") / lit(10.0) - lit(6.0)).as("lat_a"),
      ((id % 440).cast("double") / lit(10.0) - lit(73.0)).as("lon_a"),
      when(id % 13 === 0, lit(null).cast("double"))
        .otherwise((id % 90).cast("double") / lit(10.0) - lit(5.0)).as("lat_b"),
      ((id % 460).cast("double") / lit(10.0) - lit(74.0)).as("lon_b"),
      when(id % 10 === 0, lit(0.0)).otherwise(lit(null).cast("double"))
        .as("dist_km"))
  }

  private val coordSynthSql =
    """SELECT event_id,
      |  CAST(event_id % 120 AS DOUBLE) / 10.0 - 6.0 AS lat_a,
      |  CAST(event_id % 440 AS DOUBLE) / 10.0 - 73.0 AS lon_a,
      |  CASE WHEN event_id % 13 = 0 THEN NULL
      |       ELSE CAST(event_id % 90 AS DOUBLE) / 10.0 - 5.0 END AS lat_b,
      |  CAST(event_id % 460 AS DOUBLE) / 10.0 - 74.0 AS lon_b,
      |  CASE WHEN event_id % 10 = 0 THEN 0.0 ELSE NULL END AS dist_km
      |FROM events""".stripMargin

  def qDistance(s: SparkSession, dir: String): DataFrame = {
    val src = coordSynth(t(s, dir, "events"))
    val cand = DistanceEnrichment.candidates(src,
      "lat_a", "lon_a", "lat_b", "lon_b", "dist_km", overwriteExisting = false)
    DistanceEnrichment.enrich(cand, "lat_a", "lon_a", "lat_b", "lon_b",
      "dist_out")
      .select("event_id", "lat_a", "lon_a", "lat_b", "lon_b", "dist_out")
  }

  val qDistanceSql: String =
    s"""WITH src AS ($coordSynthSql)
       |SELECT event_id, lat_a, lon_a, lat_b, lon_b,
       |  sqrt((lat_a - lat_b) * (lat_a - lat_b) +
       |       (lon_a - lon_b) * (lon_a - lon_b)) * 111.32 AS dist_out
       |FROM src
       |WHERE lat_a IS NOT NULL AND lon_a IS NOT NULL
       |  AND lat_b IS NOT NULL AND lon_b IS NOT NULL
       |  AND dist_km IS NULL""".stripMargin

  // --------------------------------------------------------- event window
  // §2.12/§7.2-8: tumbling event-time window aggregation — the SAME code
  // path serves Structured Streaming (withWatermark is analyzed away on
  // batch input, so the batch oracle checks the streaming logic).
  def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    StreamingSync.windowedCounts(
      t(s, dir, "events"), "ts", "5 minutes", "10 minutes", Seq("event_type"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("event_type"), col("n"),
        // final render: decimal agg -> double (driver-compare parity, see
        // SparkEntry scaladoc)
        col("sum_value").cast("double").as("sum_value"))

  val qEventsWindowSql: String =
    """SELECT
      |  make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w_start,
      |  make_timestamp((epoch_us(ts) // 300000000) * 300000000 + 300000000) AS w_end,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------- frames
  // Multimodal plumbing: binary payloads + synthesized metadata + frame
  // sampling explode (one row per sampled frame).
  def qFrames(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("payload", encode(substring(col("text"), 1, 64), "UTF-8"))
    val withMeta = MultimodalOps.withMediaMeta(docs, "payload", "video")
    MultimodalOps.sampleFrames(withMeta, "doc_id", "media_meta", 500L)
  }

  val qFramesSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    octet_length(CAST(substr(text, 1, 64) AS BLOB)) * 997 % 30000 + 1000 AS duration_ms
      |  FROM documents)
      |SELECT doc_id, f AS frame_idx, f * 500 AS frame_ms
      |FROM m CROSS JOIN range(0, 256) t(f)
      |WHERE f * 500 <= duration_ms - 1""".stripMargin

  // -------------------------------------------------------- frame stats
  // REAL image-decode kernel, oracle-gated: the first 192 codepoints of
  // the (cycled) document text form a deterministic 8×8 raw-RGB frame,
  // pushed through the SAME ImageCore.stats kernel ImageIO-decoded
  // images use (MultimodalSpec proves PNG round-trip identity on that
  // kernel; this query proves the kernel's arithmetic against DuckDB).
  // 8×8 hits the equal-cell aHash branch whose integer rule
  // (64·graySum_j > total) and power-of-two mean division (sum/64) are
  // bit-exact in BIGINT/double on both engines.
  def qFrameStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") >= 24) // ×8 cycles to ≥192 chars
      .select(col("doc_id"),
        MultimodalOps.rgbFrameStats(
          substring(repeat(col("text"), 8), 1, 192), 8, 8).as("s"))
      .select(col("doc_id"), col("s.width").as("width"),
        col("s.height").as("height"), col("s.mean_r").as("mean_r"),
        col("s.mean_g").as("mean_g"), col("s.mean_b").as("mean_b"),
        col("s.ahash_lo").as("ahash_lo"), col("s.ahash_hi").as("ahash_hi"))

  val qFrameStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(repeat(text, 8), 1, 192) AS f
      |  FROM documents WHERE n_chars >= 24),
      |px AS (
      |  SELECT doc_id, i,
      |    ord(substr(f, CAST(3*i + 1 AS INT), 1)) % 256 AS r,
      |    ord(substr(f, CAST(3*i + 2 AS INT), 1)) % 256 AS g,
      |    ord(substr(f, CAST(3*i + 3 AS INT), 1)) % 256 AS b
      |  FROM d CROSS JOIN range(0, 64) t(i)),
      |tot AS (SELECT doc_id, sum(r + g + b) AS s FROM px GROUP BY 1)
      |SELECT px.doc_id, 8 AS width, 8 AS height,
      |  CAST(sum(r) AS BIGINT) / 64.0 AS mean_r,
      |  CAST(sum(g) AS BIGINT) / 64.0 AS mean_g,
      |  CAST(sum(b) AS BIGINT) / 64.0 AS mean_b,
      |  CAST(sum(CASE WHEN i < 32 AND 64 * (r + g + b) > s
      |    THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS ahash_lo,
      |  CAST(sum(CASE WHEN i >= 32 AND 64 * (r + g + b) > s
      |    THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS ahash_hi
      |FROM px JOIN tot USING (doc_id)
      |GROUP BY px.doc_id""".stripMargin

  // -------------------------------------------------------- thumb stats
  // The RESIZE kernel under the driver gate: synthesize the same 8×8
  // frame, nearest-neighbour downsample to 4×4 (pure integer index
  // arithmetic: src = 16·(j div 4) + 2·(j mod 4)), then channel means
  // over the thumbnail. The oracle replays the identical index map.
  def qThumbStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") >= 24)
      .select(col("doc_id"),
        graft.multimodal.ImageExpr.rgb_frame_resize_stats(
          substring(repeat(col("text"), 8), 1, 192), 8, 8, 4, 4).as("s"))
      .select(col("doc_id"), col("s.width").as("width"),
        col("s.height").as("height"), col("s.mean_r").as("mean_r"),
        col("s.mean_g").as("mean_g"), col("s.mean_b").as("mean_b"))

  val qThumbStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(repeat(text, 8), 1, 192) AS f
      |  FROM documents WHERE n_chars >= 24),
      |px AS (
      |  SELECT doc_id,
      |    ord(substr(f, CAST(3*(16*(j//4) + 2*(j%4)) + 1 AS INT), 1))
      |      % 256 AS r,
      |    ord(substr(f, CAST(3*(16*(j//4) + 2*(j%4)) + 2 AS INT), 1))
      |      % 256 AS g,
      |    ord(substr(f, CAST(3*(16*(j//4) + 2*(j%4)) + 3 AS INT), 1))
      |      % 256 AS b
      |  FROM d CROSS JOIN range(0, 16) t(j))
      |SELECT doc_id, 4 AS width, 4 AS height,
      |  CAST(sum(r) AS BIGINT) / 16.0 AS mean_r,
      |  CAST(sum(g) AS BIGINT) / 16.0 AS mean_g,
      |  CAST(sum(b) AS BIGINT) / 16.0 AS mean_b
      |FROM px GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------- crop stats
  // The CROP kernel under the driver gate: center-crop the 8×8 frame to
  // 4×4 (offsets (2,2): src = 8·(j div 4) + (j mod 4) + 18) and take
  // channel means. The oracle replays the identical offset map.
  def qCropStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") >= 24)
      .select(col("doc_id"),
        graft.multimodal.ImageExpr.rgb_frame_crop_stats(
          substring(repeat(col("text"), 8), 1, 192), 8, 8, 4, 4).as("s"))
      .select(col("doc_id"), col("s.width").as("width"),
        col("s.height").as("height"), col("s.mean_r").as("mean_r"),
        col("s.mean_g").as("mean_g"), col("s.mean_b").as("mean_b"))

  val qCropStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(repeat(text, 8), 1, 192) AS f
      |  FROM documents WHERE n_chars >= 24),
      |px AS (
      |  SELECT doc_id,
      |    ord(substr(f, CAST(3*(8*(j//4) + (j%4) + 18) + 1 AS INT), 1))
      |      % 256 AS r,
      |    ord(substr(f, CAST(3*(8*(j//4) + (j%4) + 18) + 2 AS INT), 1))
      |      % 256 AS g,
      |    ord(substr(f, CAST(3*(8*(j//4) + (j%4) + 18) + 3 AS INT), 1))
      |      % 256 AS b
      |  FROM d CROSS JOIN range(0, 16) t(j))
      |SELECT doc_id, 4 AS width, 4 AS height,
      |  CAST(sum(r) AS BIGINT) / 16.0 AS mean_r,
      |  CAST(sum(g) AS BIGINT) / 16.0 AS mean_g,
      |  CAST(sum(b) AS BIGINT) / 16.0 AS mean_b
      |FROM px GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------ frame hamming
  // Visual near-dup screen over the same synthetic frames: aHash 4-band
  // LSH join + Hamming verify (the SimHash idiom through the IMAGE
  // kernel). Planted near-dup documents share near-identical leading
  // frames, so real pairs survive at every SF.
  private val FrameMaxHamming = 12

  def qFrameHamming(s: SparkSession, dir: String): DataFrame = {
    val sigs = t(s, dir, "documents")
      .filter(col("n_chars") >= 24)
      .select(col("doc_id"),
        MultimodalOps.rgbFrameStats(
          substring(repeat(col("text"), 8), 1, 192), 8, 8).as("s"))
      .select(col("doc_id"), col("s.ahash_lo").as("lo"),
        col("s.ahash_hi").as("hi"))
    MultimodalOps.ahashNearDupPairs(sigs, "doc_id", "lo", "hi",
      FrameMaxHamming)
  }

  val qFrameHammingSql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(repeat(text, 8), 1, 192) AS f
      |  FROM documents WHERE n_chars >= 24),
      |px AS (
      |  SELECT doc_id, i,
      |    ord(substr(f, CAST(3*i + 1 AS INT), 1)) % 256 AS r,
      |    ord(substr(f, CAST(3*i + 2 AS INT), 1)) % 256 AS g,
      |    ord(substr(f, CAST(3*i + 3 AS INT), 1)) % 256 AS b
      |  FROM d CROSS JOIN range(0, 64) t(i)),
      |tot AS (SELECT doc_id, sum(r + g + b) AS s FROM px GROUP BY 1),
      |sig AS (
      |  SELECT px.doc_id,
      |    CAST(sum(CASE WHEN i < 32 AND 64 * (r + g + b) > s
      |      THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN i >= 32 AND 64 * (r + g + b) > s
      |      THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS hi
      |  FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id),
      |banded AS (
      |  SELECT doc_id, lo, hi, b.bi AS band_idx,
      |    CASE b.bi WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
      |              WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535
      |    END AS band_val
      |  FROM sig CROSS JOIN range(0, 4) b(bi))
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.lo, b.lo)) +
      |       bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
      |FROM banded a JOIN banded b
      |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |  AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.lo, b.lo)) +
      |      bit_count(xor(a.hi, b.hi)) <= 12""".stripMargin

  // ----------------------------------------------------------- audio stats
  // Audio signal screens (AudioCore.pcmStats through the synthetic-PCM
  // expression): RMS energy, mean amplitude and zero-crossing count
  // over a deterministic int16 signal both engines reconstruct. The
  // REAL decode twin (AudioStats — RIFF/WAVE parse of actual bytes)
  // runs the same kernel and is spec-gated in MultimodalSpec with
  // hand-built WAVs, the ImageIO-vs-raw-frame precedent.
  private val PcmSamples = 96

  def qAudioStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") >= 24) // ×4 cycles to ≥96 chars
      .select(col("doc_id"),
        graft.multimodal.AudioExpr.pcm_frame_stats(
          substring(repeat(col("text"), 4), 1, PcmSamples),
          PcmSamples).as("a"))
      .select(col("doc_id"),
        col("a.n_samples").as("n_samples"),
        col("a.rms").as("rms"),
        col("a.mean_amp").as("mean_amp"),
        col("a.zero_crossings").as("zero_crossings"))

  val qAudioStatsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, substr(repeat(text, 4), 1, $PcmSamples) AS f
       |  FROM documents WHERE n_chars >= 24),
       |sm AS (
       |  SELECT doc_id, i,
       |    (ord(substr(f, CAST(i + 1 AS INT), 1)) % 256 - 128) * 256 AS s
       |  FROM d CROSS JOIN range(0, $PcmSamples) t(i)),
       |w AS (SELECT doc_id, s,
       |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp FROM sm)
       |SELECT doc_id, count(*) AS n_samples,
       |  sqrt(CAST(sum(s * s) AS DOUBLE) / $PcmSamples.0) AS rms,
       |  CAST(sum(abs(s)) AS DOUBLE) / $PcmSamples.0 AS mean_amp,
       |  CAST(sum(CASE WHEN sp IS NOT NULL AND s * sp < 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
       |FROM w GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------------- date funcs
  // §2.11 date helpers (date.py): last-day-of-month family + strftime
  // renders + watermark literal formatting (ms truncation).
  def qDateFuncs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
    o.select(
      col("o_orderkey"),
      DateFunctions.lastDayOfMonth(col("o_orderdate")).as("ldom"),
      DateFunctions.lastDayOfLastMonth(col("o_orderdate")).as("ldolm"),
      DateFunctions.formatYm(col("o_orderdate")).as("ym"),
      DateFunctions.formatYmd(col("o_orderdate")).as("ymd"),
      DateFunctions.formatBr(col("o_orderdate")).as("br"),
      DateFunctions.watermarkLiteral(col("o_orderdate"), isDate = false)
        .as("wm_literal"),
      // gsheets ISO-string round trip (string_formatting.py:30-42):
      // render then re-parse; survives exactly.
      DateFunctions.parseIso(
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
        .as("iso_roundtrip"))
  }

  val qDateFuncsSql: String =
    """SELECT o_orderkey,
      |  last_day(o_orderdate) AS ldom,
      |  last_day(o_orderdate - INTERVAL 1 MONTH) AS ldolm,
      |  strftime(o_orderdate, '%Y%m') AS ym,
      |  strftime(o_orderdate, '%Y%m%d') AS ymd,
      |  strftime(o_orderdate, '%d/%m/%Y') AS br,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.' ||
      |    lpad(CAST(epoch_us(o_orderdate) % 1000000 // 1000 AS VARCHAR), 3, '0')
      |    AS wm_literal,
      |  strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ'),
      |           '%Y-%m-%dT%H:%M:%S.%gZ') AS iso_roundtrip
      |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin

  // ------------------------------------------------------ top-k per group
  // Typed Aggregator with bounded k-element map-side buffers — the scale
  // alternative to window row_number (which sorts every group fully).
  // Oracle is the window formulation: both must agree exactly.
  def qTopkGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopKAggregator.topKPerGroup(
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice")),
      groupCols = Seq("o_orderpriority"),
      idCol = "o_orderkey", scoreCol = "o_totalprice", k = 3)

  val qTopkGroupSql: String =
    """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
      |  FROM orders) WHERE rank <= 3""".stripMargin

  // ------------------------------------------------------------ top-k
  // §2.7: orderBy/limit with deterministic tiebreak (bacen argmax family).
  def qTopk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val qTopkSql: String =
    "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"

  // ----------------------------------------------------- running window
  // §2.6 generalization: running decimal sum per customer (frame spec).
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("running_total"))
  }

  val qWindowRunningSql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS running_total
      |FROM orders""".stripMargin

  // -------------------------------------------------------- values union
  // §2.8: UNION ALL with an inline values-table (J7's write-back pattern,
  // osrm_distance_operator.py:179-187).
  def qValuesUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inline = Seq((100, "INLINE"), (101, "INLINE2"))
      .toDF("r_regionkey", "r_name")
    t(s, dir, "region").unionByName(inline)
  }

  val qValuesUnionSql: String =
    """SELECT * FROM region
      |UNION ALL
      |SELECT * FROM (VALUES (100, 'INLINE'), (101, 'INLINE2'))
      |  t(r_regionkey, r_name)""".stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_audit", qAudit, qAuditSql),
    Query("q_distance", qDistance, qDistanceSql),
    Query("q_events_window", qEventsWindow, qEventsWindowSql),
    Query("q_frames", qFrames, qFramesSql),
    Query("q_frame_stats", qFrameStats, qFrameStatsSql),
    Query("q_thumb_stats", qThumbStats, qThumbStatsSql),
    Query("q_crop_stats", qCropStats, qCropStatsSql),
    Query("q_audio_stats", qAudioStats, qAudioStatsSql),
    Query("q_frame_hamming", qFrameHamming, qFrameHammingSql),
    Query("q_date_funcs", qDateFuncs, qDateFuncsSql),
    Query("q_topk", qTopk, qTopkSql),
    Query("q_topk_group", qTopkGroup, qTopkGroupSql),
    Query("q_window_running", qWindowRunning, qWindowRunningSql),
    Query("q_values_union", qValuesUnion, qValuesUnionSql),
  )
}
