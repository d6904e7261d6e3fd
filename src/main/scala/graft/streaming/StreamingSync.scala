package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.operators.IncrementalSync

/** Structured Streaming surface (SURVEY §7.2 step 8 — the idiomatic Spark
  * upgrade of the reference's batch CDC pattern, not parity).
  *
  * The incremental sync's high-watermark (fast_etl.py:405-427) becomes
  * `withWatermark`; the staged-merge becomes a `foreachBatch` upsert; the
  * tumbling-window aggregation mirrors what a monitoring DAG would
  * schedule as repeated batch queries.
  */
object StreamingSync {

  /** Tumbling event-time aggregation with late-data watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowDuration: String,
      watermarkDelay: String,
      groupCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_value"))

  /** Continuous upsert into a parquet "destination": every micro-batch is
    * merged with IncrementalSync.mergeBatch semantics (J1+J2). The merge
    * runs on the batch DataFrame, so semantics match the batch operator
    * exactly — this is the reference's sync loop with the scheduler
    * removed. */
  def mergeStream(
      increments: DataFrame,
      destPath: String,
      keys: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    increments.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // ONLY a missing destination means "first load": any other read
        // failure must propagate — treating a transient error as an empty
        // destination would atomically replace the accumulated data with
        // just this micro-batch. The probe goes through the Hadoop
        // FileSystem for destPath's scheme (local, hdfs://, ...), and
        // AtomicParquet.exists also restores a crash-stranded .__old__
        // generation before answering. AtomicParquet.read takes the
        // schema from a footer, so no schema-inference job runs per batch.
        val dest =
          if (graft.core.AtomicParquet.exists(spark, destPath))
            graft.core.AtomicParquet.read(spark, destPath)
          else batch.limit(0)
        // Staged write + rename swap (AtomicParquet): the merge plan reads
        // the current generation while the new one lands in staging, then
        // the destination flips in one rename — the reference's
        // single-transaction truncate+load contract for a file sink
        // (SURVEY §7.5.6). A transactional table format replaces this in
        // production deployments.
        graft.core.AtomicParquet.overwrite(
          IncrementalSync.mergeBatch(dest, batch, keys), destPath)
      }
}
