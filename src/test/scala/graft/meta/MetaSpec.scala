package graft.meta

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import graft.{SparkCounters, SparkSpec}
import graft.enrich.DistanceEnrichment
import graft.multimodal.MultimodalOps
import org.apache.spark.BusListeners
import org.apache.spark.sql.functions._

class MetaSpec extends SparkSpec {
  import spark.implicits._

  test("LoadInfo audit row carries the load row count") {
    val df = Seq(1, 2, 3).toDF("x")
    val row = LoadInfo.audit(df, "vdb", "sch", "tbl", "user", "full",
      Timestamp.valueOf("2026-01-01 00:00:00")).collect().head
    assert(row.getAs[Long]("qt_linhas") == 3L)
    assert(row.getAs[String]("tp_carga") == "full")
  }

  test("LoadInfo.observed audits via observe metric, no second scan") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    @volatile var audited = -1L
    val instrumented = LoadInfo.observed(df, "load_audit_test", n => audited = n)
    instrumented.write.format("noop").mode("overwrite").save()
    // listener delivery is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (audited < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(audited == 4L)
  }

  /** Write `df` to the noop sink; `measure` drains the bus, so the
    * audit listener has run when this returns. */
  private def writeNoop(df: org.apache.spark.sql.DataFrame): Unit =
    SparkCounters.measure(spark)(
      df.write.format("noop").mode("overwrite").save())

  private def listeners(): Int =
    BusListeners.queryListeners(spark.sparkContext).size

  test("LoadInfo.observed keeps its audit across an unrelated failed query") {
    val audited = new AtomicLong(-1)
    val registered = listeners()
    val inst = LoadInfo.observed((1 to 5).toDF("x"), "load_audit_unrelated",
      audited.set)
    intercept[Exception](SparkCounters.measure(spark)(
      spark.range(1L).select(raise_error(lit("unrelated"))).collect()))
    writeNoop(inst)
    assert(audited.get === 5L)
    assert(listeners() === registered)
  }

  test("LoadInfo.observed: two loads under one name get their own counts") {
    val first, second = new AtomicLong(-1)
    val a = LoadInfo.observed((1 to 5).toDF("x"), "load_audit_same", first.set)
    val b = LoadInfo.observed((1 to 9).toDF("x"), "load_audit_same", second.set)
    writeNoop(a)
    writeNoop(b)
    assert((first.get, second.get) === ((5L, 9L)))
  }

  test("LoadInfo.observed: a failed write never audits and stops listening") {
    val audited = new AtomicLong(-1)
    val registered = listeners()
    // one partition: rows 1-5 pass the observation before row 6 fails
    val failing = spark.range(1L, 11L, 1L, 1)
      .select(when(col("id") > 5, raise_error(lit("bad row")))
        .otherwise(col("id")).as("x"))
    val inst = LoadInfo.observed(failing, "load_audit_failed", audited.set)
    assert(listeners() === registered + 1)
    val out = java.nio.file.Files.createTempDirectory("graft-audit").toString
    intercept[Exception](SparkCounters.measure(spark)(
      inst.write.mode("overwrite").parquet(out)))
    assert(audited.get === -1L)
    assert(listeners() === registered)
  }

  test("CommentSync copies column comments case-insensitively") {
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row]),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ID",
          org.apache.spark.sql.types.LongType).withComment("the key"),
        org.apache.spark.sql.types.StructField("other",
          org.apache.spark.sql.types.StringType))))
    val dest = Seq((1L, "x")).toDF("id", "name")
    val synced = CommentSync.sync(src, dest)
    assert(CommentSync.comments(synced.schema) == Map("id" -> "the key"))
    val ddl = CommentSync.commentDdl("sch", "tbl", CommentSync.comments(synced.schema))
    assert(ddl == Seq("COMMENT ON COLUMN sch.tbl.id IS 'the key'"))
  }

  test("DistanceEnrichment mapPartitions matches the expression variant") {
    val df = Seq(
      (1L, -23.5, -46.6, -22.9, -43.2),
      (2L, 0.0, 0.0, 1.0, 1.0)).toDF("id", "lat_a", "lon_a", "lat_b", "lon_b")
    val viaMap = DistanceEnrichment.enrich(df, "lat_a", "lon_a", "lat_b", "lon_b", "d")
      .select("id", "d").as[(Long, Double)].collect().toMap
    val viaExpr = DistanceEnrichment.enrichExpr(df, "lat_a", "lon_a", "lat_b", "lon_b", "d")
      .select("id", "d").as[(Long, Double)].collect().toMap
    assert(viaMap == viaExpr)
    assert(math.abs(viaMap(2L) - math.sqrt(2.0) * 111.32) < 1e-9)
  }

  test("DistanceEnrichment candidate filter honors overwriteExisting") {
    val df = Seq(
      (1L, Some(1.0), Some(1.0), Some(2.0), Some(2.0), Some(5.0)),
      (2L, Some(1.0), Some(1.0), Some(2.0), Some(2.0), None),
      (3L, None, Some(1.0), Some(2.0), Some(2.0), None))
      .toDF("id", "lat_a", "lon_a", "lat_b", "lon_b", "dist")
    val keep = DistanceEnrichment.candidates(df, "lat_a", "lon_a", "lat_b",
      "lon_b", "dist", overwriteExisting = false)
    assert(keep.select("id").as[Long].collect().toSeq == Seq(2L))
    val over = DistanceEnrichment.candidates(df, "lat_a", "lon_a", "lat_b",
      "lon_b", "dist", overwriteExisting = true)
    assert(over.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("MultimodalOps resize fits metadata within the box, preserves aspect, nulls undecodable payloads") {
    val df = Seq((1L, "x" * 2000)).toDF("id", "t")
      .withColumn("payload", encode(col("t"), "UTF-8"))
    val withMeta = MultimodalOps.withMediaMeta(df, "payload", "image")
    val before = withMeta.select("media_meta.width", "media_meta.height")
      .collect().head
    val resized = MultimodalOps.resize(withMeta, "payload", "media_meta",
        64, 64)
      .select(col("media_meta.width"), col("media_meta.height"),
        col("media_meta.codec"), col("payload").isNull)
      .collect().head
    assert(resized.getInt(0) <= 64 && resized.getInt(1) <= 64)
    assert(resized.getString(2).endsWith("+resized"))
    // not an image: the payload honestly degrades to NULL
    assert(resized.getBoolean(3))
    // aspect preserved within integer truncation
    val r0 = before.getInt(0).toDouble / before.getInt(1)
    val r1 = resized.getInt(0).toDouble / resized.getInt(1)
    assert(math.abs(r0 - r1) / r0 < 0.1)
  }

  test("MultimodalOps metadata + frame sampling shapes") {
    val df = Seq((1L, "hello world")).toDF("id", "t")
      .withColumn("payload", encode(col("t"), "UTF-8"))
    val withMeta = MultimodalOps.withMediaMeta(df, "payload", "video")
    val meta = withMeta.select("media_meta.*").collect().head
    assert(meta.getAs[String]("media_type") == "video")
    val dur = meta.getAs[Long]("duration_ms")
    assert(dur >= 1000)
    val frames = MultimodalOps.sampleFrames(withMeta, "id", "media_meta", 500L)
    assert(frames.count() == (dur - 1) / 500 + 1)
    // real decode path (PNG round-trip + raw-frame parity) is covered in
    // graft.multimodal.MultimodalSpec
  }

  test("withImageMeta derives REAL dimensions from the payload header") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(20, 10, BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val rows = Seq((1L, bos.toByteArray), (2L, "junk".getBytes))
      .toDF("id", "payload")
    val got = MultimodalOps.withImageMeta(rows, "payload")
      .select(col("id"), col("media_meta.width"), col("media_meta.height"),
        col("media_meta.codec"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getInt(1) === 20 && got(1L).getInt(2) === 10)
    assert(got(1L).getString(3) === "imageio")
    assert(got(2L).isNullAt(1) && got(2L).getString(3) === "undecodable")
  }
}
