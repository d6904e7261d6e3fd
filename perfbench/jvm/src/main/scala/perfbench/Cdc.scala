package perfbench

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueriesClean, Tables}
import graft.clean.{Cleaner, PatchMerge, TableMeta, TextCropperCleaner, UfCleaner}
import graft.core.{AtomicParquet, Deletes, Snapshots}
import graft.operators.{FullCopy, IncrementalSync}

/** One batch of the change feed: rows as a source would deliver them.
  * `orders` carries `stale` rows too: re-offered rows stamped at or
  * before the destination's watermark, which the sync must skip. */
final case class ChangeBatch(b: Int, orders: Seq[Row], stale: Seq[Row],
    exclusions: Seq[Row], lineUpserts: Seq[Row], lineDeletes: Seq[Row]) {
  /** User rows the batch commits. */
  def rows: Long =
    (orders.size + exclusions.size + lineUpserts.size + lineDeletes.size).toLong
}

/** Seeded change feed over an orders table of `nOrders` keys: per batch
  * ~1% of the table, as updates, inserts and exclusion keys. Values are a
  * pure function of (seed, batch, key); keys are distinct within a batch.
  * Built on the driver: a batch is a few hundred rows. */
final class ChangeFeed(seed: Long, nOrders: Long, nCust: Long, nPart: Long,
    nSupp: Long) {
  val BaseEpoch = 1767225600L // 2026-01-01, the initial load's stamp (gen.py)
  private val upd = math.max(4L, nOrders / 150)
  private val ins = math.max(2L, nOrders / 400)
  private val exc = math.max(1L, nOrders / 1500)
  private val stale = math.max(1L, nOrders / 1000)

  private def mix(xs: Long*): Long = xs.foldLeft(seed ^ 0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h + x * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def draw(n: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), n)
  private def pick(values: Seq[String], xs: Long*): String = values(draw(values.size, xs: _*).toInt)
  private def at(epochSeconds: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(epochSeconds, 0, java.time.ZoneOffset.UTC)
  private def distinctKeys(n: Long, salt: Long, b: Int): Seq[Long] =
    (0L until n).map(j => draw(nOrders, salt, b, j)).distinct

  private def order(k: Long, b: Int, stamp: Long): Row = Row(k, draw(nCust, 1, b, k),
    pick(Seq("F", "O", "P"), 2, b, k), (draw(49899128L, 3, b, k) + 100191) / 100.0,
    at(788918400L + draw(2404, 4, b, k) * 86400),
    pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 5, b, k),
    at(stamp))

  private def line(k: Long, ln: Int, b: Int): Row = Row(k, draw(nPart, 6, b, k, ln),
    draw(nSupp, 7, b, k, ln), ln, (draw(50, 8, b, k, ln) + 1).toDouble,
    (draw(10409924L, 9, b, k, ln) + 90068) / 100.0, draw(11, 10, b, k, ln) / 100.0,
    draw(9, 11, b, k, ln) / 100.0, pick(Seq("A", "N", "R"), 12, b, k, ln),
    pick(Seq("F", "O"), 13, b, k, ln),
    at(788918400L + draw(2520, 14, b, k, ln) * 86400))

  def batch(b: Int): ChangeBatch = {
    val stamp = BaseEpoch + b
    val inserted = (0L until ins).map(j => nOrders + (b - 1) * ins + j)
    ChangeBatch(b,
      orders = (distinctKeys(upd, 20, b) ++ inserted).map(order(_, b, stamp)),
      stale = distinctKeys(stale, 21, b).map(order(_, b, BaseEpoch + b - 1 - 3600)),
      exclusions = distinctKeys(exc, 22, b).map(k => Row(k, at(stamp))),
      lineUpserts = distinctKeys(3 * upd, 23, b).map(line(_, 1, b)) ++
        inserted.flatMap(k => (1 to 3).map(line(k, _, b))),
      lineDeletes = distinctKeys(4 * exc, 24, b).map(k => Row(k, 1)))
  }
}

object ChangeFeed {
  /** The feed over the tables gen.py writes at `scale` (its `sizes`). */
  def apply(seed: Long, scale: Double): ChangeFeed = new ChangeFeed(seed,
    nOrders = math.max(100L, (1500000 * scale).toLong),
    nCust = math.max(50L, (150000 * scale).toLong),
    nPart = math.max(50L, (200000 * scale).toLong),
    nSupp = math.max(10L, (10000 * scale).toLong))

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType),
    StructField("o_updated_at", TimestampNTZType)))
  val ExclusionSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("exc_datetime", TimestampNTZType)))
  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))
  val LineKeySchema: StructType = StructType(LineSchema.fields.filter(f =>
    Set("l_orderkey", "l_linenumber")(f.name)))

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

/** An ETL cycle of many small loads with writes beside reads, as a
  * warehouse job runs it: a full refresh of the customer dimension, then
  * change batches for the orders and lineitem facts.
  *
  * The refresh copies customer (FullCopy.copyToPath, atomic), runs the
  * patchwork chain (Cleaner.chain of UfCleaner and TextCropperCleaner) and
  * PatchMerge.consolidate over it, and commits cleaned, QA and
  * consolidated outputs through AtomicParquet.
  *
  * Each change batch is a ~1% change set. orders is synced copy-on-write
  * (IncrementalSync.sync, then Snapshots.commit: the reference's
  * sync_db_2_db); lineitem is synced merge-on-read (Deletes.commitUpsert
  * and commitDeletes). After every batch a consumer reads the merged
  * lineitem. The last batch of a cycle also materializes lineitem and
  * prunes old orders snapshots. Every load (refresh or batch) writes one
  * LoadInfo audit row. */
final class CdcSync(scale: Double, seed: Long) extends Workload {
  val passSeconds = 20.0
  val MaintenanceEvery = 3
  /** The dimension is ten times the facts' scale factor. */
  private val DimScale = 10
  private val OrderKeys = Seq("o_orderkey")
  private val LineKeys = Seq("l_orderkey", "l_linenumber")
  private var feed: ChangeFeed = _
  private var warmFeed: ChangeFeed = _
  private var warmBatches = 0
  private val applied = ArrayBuffer.empty[ChangeBatch]
  private var lastRead: Array[Row] = Array.empty
  private val liveVersions = ArrayBuffer.empty[Int]

  private def in(ctx: Ctx) = s"${ctx.dir}/in/cdc"
  private def ordersDir(ctx: Ctx) = s"${ctx.dir}/out/orders"
  private def lineitemDir(ctx: Ctx) = s"${ctx.dir}/out/lineitem"
  private def dimDir(ctx: Ctx) = s"${ctx.dir}/out/dim"

  override def prepare(ctx: Ctx, tableRows: Map[String, Long]): Unit = {
    feed = ChangeFeed(seed, scale)
    warmFeed = ChangeFeed(seed, scale / 10)
  }

  /** Initial full load of both destinations. */
  private def load(ctx: Ctx, src: String): Unit = {
    val spark = ctx.spark
    val fs = new org.apache.hadoop.fs.Path(ctx.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(ordersDir(ctx), lineitemDir(ctx)).foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    Snapshots.commit(spark.read.parquet(s"$src/orders.parquet"), ordersDir(ctx))
    Deletes.commitUpsert(spark, lineitemDir(ctx),
      spark.read.parquet(s"$src/lineitem.parquet"), LineKeys)
  }

  /** Warm-up: one batch load on tables a tenth the size (loaded by the
    * first warm-up; later ones apply the next batch). */
  def warmup(ctx: Ctx): Unit = {
    if (warmBatches == 0) load(ctx, s"${in(ctx)}/warm")
    warmBatches += 1
    runBatch(ctx, warmFeed.batch(warmBatches), 0, timed = false, maintain = false,
      read = false)
  }

  override def initState(ctx: Ctx): Unit = {
    load(ctx, s"${in(ctx)}/main")
    applied.clear()
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    refresh(ctx, p)
    (1 to MaintenanceEvery).foreach { i =>
      val batch = feed.batch(applied.size + 1)
      runBatch(ctx, batch, p, timed = true, maintain = i == MaintenanceEvery)
      applied += batch
    }
  }

  /** Full refresh of the customer dimension with the patchwork chain. */
  private def refresh(ctx: Ctx, p: Int): Unit = {
    val spark = ctx.spark
    val dest = dimDir(ctx)
    def commit(df: DataFrame, path: String): Unit =
      ctx.span("core", "AtomicParquet.overwrite")(AtomicParquet.overwrite(df, path))
    ctx.op("refresh", "customer", p) {
      val source = ctx.span("tables", "Tables.load")(
        Tables.load(spark, s"${in(ctx)}/dim", "customer"))
      val rows = ctx.observedWrite(source)(df =>
        ctx.span("operators", "FullCopy.copyToPath")(FullCopy.copyToPath(
          df, source.columns.toSeq, s"$dest/customer.parquet", atomic = true)))
      val loaded = ctx.span("tables", "Tables.load")(Tables.load(spark, dest, "customer"))
      val meta = TableMeta("src", "public", "customer", Seq("c_custkey"))
      val r = ctx.span("clean", "Cleaner.chain")(
        Cleaner.chain(Patchwork.chainSynth(loaded), Seq(
          UfCleaner(meta, "uf", Workload.VerifiedAt),
          TextCropperCleaner(meta, "nm", 20, Workload.VerifiedAt))))
      commit(r.cleaned, s"$dest/clean_customer")
      commit(r.qa, s"$dest/qa_customer")
      val merged = ctx.span("clean", "PatchMerge.consolidate")(
        PatchMerge.consolidate(loaded, Seq(Patchwork.patch(loaded)),
          Some(Patchwork.dropKeys(loaded)), Seq("c_custkey")))
      commit(merged, s"$dest/consolidated_customer")
      ctx.audit("customer", "full", rows)
      rows
    }
  }

  private def runBatch(ctx: Ctx, batch: ChangeBatch, p: Int, timed: Boolean,
      maintain: Boolean, read: Boolean = true): Unit = {
    val spark = ctx.spark
    def op(kind: String, n: String)(body: => Long): Unit =
      if (timed) ctx.op(kind, n, p)(body) else body
    op("load", "batch") {
      val source = ChangeFeed.frame(spark, batch.orders ++ batch.stale, ChangeFeed.OrdersSchema)
      val exclusions = ChangeFeed.frame(spark, batch.exclusions, ChangeFeed.ExclusionSchema)
      val dest = ctx.span("core", "Snapshots.read")(Snapshots.read(spark, ordersDir(ctx)))
      val wm = ctx.span("operators", "IncrementalSync.watermark")(
        IncrementalSync.watermark(dest, "o_updated_at"))
      val merged = ctx.span("operators", "IncrementalSync.sync")(
        IncrementalSync.sync(source, dest, OrderKeys, "o_updated_at",
          Some(exclusions), sinceOverride = Some(wm)))
      ctx.span("core", "Snapshots.commit")(Snapshots.commit(merged, ordersDir(ctx)))
      val up = ChangeFeed.frame(spark, batch.lineUpserts, ChangeFeed.LineSchema)
      val upRows = ctx.observedWrite(up)(df =>
        ctx.span("core", "Deletes.commitUpsert")(
          Deletes.commitUpsert(spark, lineitemDir(ctx), df, LineKeys)))
      ctx.span("core", "Deletes.commitDeletes")(Deletes.commitDeletes(spark,
        lineitemDir(ctx), ChangeFeed.frame(spark, batch.lineDeletes, ChangeFeed.LineKeySchema)))
      if (maintain) ctx.span("core", "maintenance") {
        ctx.span("core", "Deletes.materialize")(Deletes.materialize(spark, lineitemDir(ctx)))
        ctx.span("core", "Snapshots.prune")(Snapshots.prune(spark, ordersDir(ctx), keep = 1))
      }
      if (timed) ctx.audit("lineitem", "incremental", upRows)
      batch.rows
    }
    if (timed && ctx.tracer.enabled)
      liveVersions += Snapshots.versions(spark, lineitemDir(ctx)).size
    if (read) op("read", "merged_lineitem") {
      val merged = ctx.span("core", "Deletes.readMerged")(
        Deletes.readMerged(spark, lineitemDir(ctx)))
      lastRead = ctx.span("consumer", "aggregate")(CdcSync.summary(merged).collect())
      0L
    }
  }

  /** Last-writer-wins over the initial table and the applied batches:
    * for each key the latest event decides (batch order; within a batch
    * deletes after upserts), and a delete removes the key. Plain
    * DataFrame code, independent of the library's merge. */
  private def expected(spark: SparkSession, base: DataFrame, keys: Seq[String],
      upserts: Seq[(Int, Row)], deletes: Seq[(Int, Row)], schema: StructType,
      keySchema: StructType): DataFrame = {
    def tagged(rows: Seq[(Int, Row)], s: StructType, phase: Int) =
      ChangeFeed.frame(spark, rows.map { case (b, r) => Row.fromSeq(r.toSeq :+ b) },
        s.add("b", IntegerType)).withColumn("phase", lit(phase))
    val events = base.withColumn("b", lit(0)).withColumn("phase", lit(0))
      .unionByName(tagged(upserts, schema, 0))
      .unionByName(tagged(deletes, keySchema, 1), allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("b").desc, col("phase").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("phase") === 0)
      .select(base.columns.toSeq.map(col): _*)
  }

  def check(ctx: Ctx): (Seq[Check], Seq[OracleTask]) = {
    val spark = ctx.spark
    val src = s"${in(ctx)}/main"
    val expOrders = expected(spark, spark.read.parquet(s"$src/orders.parquet"), OrderKeys,
      applied.flatMap(b => b.orders.map(b.b -> _)).toSeq,
      applied.flatMap(b => b.exclusions.map(r => b.b -> Row(r.getLong(0)))).toSeq,
      ChangeFeed.OrdersSchema, StructType(ChangeFeed.OrdersSchema.take(1)))
    val expLines = expected(spark, spark.read.parquet(s"$src/lineitem.parquet"), LineKeys,
      applied.flatMap(b => b.lineUpserts.map(b.b -> _)).toSeq,
      applied.flatMap(b => b.lineDeletes.map(b.b -> _)).toSeq,
      ChangeFeed.LineSchema, ChangeFeed.LineKeySchema)
    val badOrders = Workload.mismatches(Snapshots.read(spark, ordersDir(ctx)), expOrders)
    val badLines = Workload.mismatches(Deletes.readMerged(spark, lineitemDir(ctx)), expLines)
    val expRead = CdcSync.summary(expLines).collect().map(_.toString).sorted.toSeq
    val gotRead = lastRead.map(_.toString).sorted.toSeq
    val auditRows = spark.read.parquet(s"${ctx.dir}/out/_audit").count()
    val loads = ctx.ops.count(o => o.kind == "load" || o.kind == "refresh")
    val n = applied.size
    val dimIn = s"${in(ctx)}/dim"
    val dim = dimDir(ctx)
    (Seq(
      Check("orders_equal_expected", badOrders == 0, s"$badOrders mismatched rows after $n batches"),
      Check("lineitem_equal_expected", badLines == 0, s"$badLines mismatched rows after $n batches"),
      Check("last_read_equal_expected", expRead == gotRead, s"${gotRead.size} groups"),
      Check("audit_rows_equal_loads", auditRows == loads, s"$auditRows audit rows, $loads loads")),
      Seq(
        OracleTask("copy_customer", "SELECT * FROM customer", dimIn, s"$dim/customer.parquet"),
        OracleTask("q_chain_clean", QueriesClean.qChainCleanSql, dimIn, s"$dim/clean_customer"),
        OracleTask("q_chain_qa", QueriesClean.qChainQaSql, dimIn, s"$dim/qa_customer"),
        OracleTask("q_patch_apply", QueriesClean.qPatchApplySql, dimIn,
          s"$dim/consolidated_customer")))
  }

  /** Destination bytes on disk over the bytes of the final logical
    * tables written once. */
  override def extra(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val fs = new org.apache.hadoop.fs.Path(ctx.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: String): Long = fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    val once = s"${ctx.dir}/out/_once"
    Snapshots.read(spark, ordersDir(ctx)).write.mode("overwrite").parquet(s"$once/orders")
    Deletes.readMerged(spark, lineitemDir(ctx)).write.mode("overwrite").parquet(s"$once/lineitem")
    Map("space_amp" -> (bytes(ordersDir(ctx)) + bytes(lineitemDir(ctx))).toDouble / bytes(once),
      "batches" -> applied.size.toDouble)
  }

  override def versionsLive: Double =
    if (liveVersions.isEmpty) 0.0 else liveVersions.sum.toDouble / liveVersions.size
}

object CdcSync {
  /** The consumer's read: a pricing summary over the merged table. */
  def summary(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus").agg(
      sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
      count(lit(1)).as("n"))
}
