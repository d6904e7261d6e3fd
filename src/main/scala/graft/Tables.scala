package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. In a
  * production deployment these would be partitioned directories or JDBC
  * specs; the read path is identical (`spark.read.parquet` scales to any
  * number of files/partitions).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver testdata ships one single-row-group parquet file per
    * table, which Spark cannot split — every scan would otherwise run as
    * ONE task and serialize all map-side work (cleaners, text analysis)
    * onto a single core. A production 100 TB table arrives as thousands
    * of splits; this round-robin repartition restores that layout's
    * parallelism (one narrow shuffle of the compact columnar batch,
    * amortized across every downstream expression). Disable per-call for
    * pure scan->sink copies where the extra exchange buys nothing.
    */
  def load(spark: SparkSession, dir: String, name: String,
      parallelize: Boolean = true): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df =
      if (parallelize &&
          raw.rdd.getNumPartitions < spark.sparkContext.defaultParallelism / 2)
        raw.repartition(spark.sparkContext.defaultParallelism)
      else raw
    normalizeTimestamps(df, name)
  }

  /** The driver's testdata has shipped `events.ts` under two different
    * parquet physical types across rounds: TIMESTAMP(NANOS) (read as
    * LongType under spark.sql.legacy.parquet.nanosAsLong=true) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TimestampNTZType).
    * Downstream operators (sessionize, funnel, retention, SCD2, streaming
    * event-time) all require a true TimestampType, so normalize every
    * variant here — ONE place, so the next silent testdata regeneration
    * breaks loudly in TablesSpec instead of in five queries.
    *
    * The NTZ→LTZ cast is lossless and micro-exact because every session
    * in this repo pins spark.sql.session.timeZone=UTC (Verify.scala,
    * Bench.scala, the spec harness); DuckDB oracles compare epoch_us and
    * are unaffected. The nanos long uses integer `div` (double would lose
    * sub-us precision at e15 epoch magnitudes).
    */
  private[graft] def normalizeTimestamps(df: DataFrame, name: String): DataFrame = {
    val ntzCols = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    val ntzFixed = ntzCols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast("timestamp")))
    if (name == "events" && ntzFixed.schema("ts").dataType == LongType)
      ntzFixed.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else ntzFixed
  }

  /** Register every table as a temp view (for the spark.sql passthrough
    * path, reference fast_etl.py:300-304 "arbitrary query" source). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
