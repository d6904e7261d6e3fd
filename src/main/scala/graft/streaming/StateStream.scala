package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

/** Continuous ingest for any mergeable state family, over a pluggable
  * [[Model]]: aggregate partials ([[aggModel]]), sketches (KLL, theta,
  * Count-Min) and counter states all ride this one sink. Each
  * micro-batch folds to per-key state rows written as its own
  * `__batch_id` partition (no read of the accumulated state); the
  * current view merges the partitions at read time, and [[compact]]
  * folds them into one when their count grows.
  *  - replayed batch (at-least-once foreachBatch): dynamic overwrite
  *    rewrites ITS OWN partition — idempotent (spec-pinned);
  *  - torn first write: reads use an explicit schema, so an empty or
  *    `_SUCCESS`-only directory is an empty state;
  *  - lost checkpoint: a batch id behind the newest stored partition
  *    refuses loudly instead of silently clobbering history.
  * Fold and merge must be associative+commutative per key, which is
  * what makes replays and compaction safe. [[NearDupStream]] writes its
  * two outputs through the same partition, refusal and start code.
  */
object StateStream {

  /** `fold`: raw batch → per-key state rows. `merge`: accumulated state
    * rows (many per key, any order) → one per key. */
  final case class Model(fold: DataFrame => DataFrame,
      merge: DataFrame => DataFrame)

  /** Newest `__batch_id` partition under `path`, from directory names
    * only (no data read); other entries are ignored. */
  private[streaming] def newestBatch(fs: FileSystem,
      path: HPath): Option[Long] =
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("__batch_id="))
      .flatMap(_.stripPrefix("__batch_id=").toLongOption)
      .maxOption

  /** Refuses `batchId` behind `newest`, the newest partition of the
    * stored `table` at `path` (batch ids restart under a lost
    * checkpoint). */
  private[streaming] def requireNotBehind(batchId: Long, newest: Long,
      table: String, path: String): Unit =
    require(batchId >= newest,
      s"batch $batchId is behind the stored $table (newest partition " +
        s"$newest) at $path — a lost or foreign checkpoint would " +
        "silently clobber the stored partitions; refusing")

  /** Writes `df` as partition `__batch_id=batchId` of `path`, replacing
    * that partition only (a replay rewrites its own output). */
  private[streaming] def writeBatch(df: DataFrame, batchId: Long,
      path: String): Unit =
    df.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(path)

  /** Starts a query running `batch` on each micro-batch of `rows`. */
  private[streaming] def startBatches(rows: DataFrame, checkpointDir: String,
      trigger: Trigger)(batch: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch(batch)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch: fold and write its state partition. Public so
    * batch backfills and tests drive the exact sink logic. */
  def processBatch(batch: DataFrame, batchId: Long, model: Model,
      statePath: String): Unit = {
    val target = new HPath(statePath)
    val fs = target.getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    newestBatch(fs, target).foreach(
      requireNotBehind(batchId, _, "state", statePath))
    writeBatch(model.fold(batch), batchId, statePath)
  }

  /** Every stored state row, read with an explicit schema derived from
    * an empty fold (so it always matches what [[processBatch]] writes):
    * an empty or torn directory reads as no rows. */
  private def stored(spark: SparkSession, template: DataFrame, model: Model,
      statePath: String): DataFrame =
    spark.read
      .schema(model.fold(template.limit(0)).schema.add("__batch_id", LongType))
      .parquet(statePath)
      .drop("__batch_id")

  /** Current merged state: one row per key. `template` supplies the raw
    * input columns (usually the source DataFrame). */
  def current(spark: SparkSession, template: DataFrame, model: Model,
      statePath: String): DataFrame =
    model.merge(stored(spark, template, model, statePath))

  /** Fold all partitions into one carrying the newest batch id, so
    * ingestion continues from the right refusal guard.
    *
    * Crash-atomic via the [[graft.core.AtomicParquet]] staged-rename
    * swap: the merged state is written to a staging directory and the
    * whole state dir is swapped in one rename protocol, so no failure
    * point can leave BOTH the merged result and the stale per-batch
    * partitions visible together. That matters because `Model.merge` is
    * only required to be associative and commutative — NOT idempotent
    * under re-merging already-included state (theta/HLL unions are; KLL
    * re-merge doubles item weights; [[aggModel]]'s sums double-count).
    * Must not run concurrently with an active [[start]] sink on the
    * same path (same single-writer discipline as the per-batch sink
    * itself; the rename window would also race `processBatch`'s
    * newest-partition probe). */
  def compact(spark: SparkSession, template: DataFrame, model: Model,
      statePath: String): Unit = {
    val target = new HPath(statePath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    newestBatch(fs, target).foreach { newest =>
      val merged = model.merge(stored(spark, template, model, statePath))
        .withColumn("__batch_id", lit(newest))
      graft.core.AtomicParquet.overwrite(
        merged, statePath, partitionCols = Seq("__batch_id"))
    }
  }

  /** Attach the sink to a streaming source and start it. */
  def start(rows: DataFrame, model: Model, statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(rows, checkpointDir, trigger)(
      processBatch(_, _, model, statePath))

  /** Ready-made model: [[graft.operators.IncrementalAgg]] partial
    * aggregates of `valueCol` per key; the finals of the current view
    * are `IncrementalAgg.finalize(current(...), keys)`. */
  def aggModel(keys: Seq[String], valueCol: String): Model = Model(
    fold = graft.operators.IncrementalAgg.state(_, keys, valueCol),
    merge = s => graft.operators.IncrementalAgg.merge(Seq(s), keys))

  /** Ready-made model: KLL quantile state over `valueCol`. */
  def kllModel(keys: Seq[String], valueCol: String,
      k: Int = 200): Model = Model(
    fold = b => graft.operators.QuantileSketch.build(b, keys, valueCol, k),
    merge = s => graft.operators.QuantileSketch.merge(
      s, s.limit(0), keys, k))

  /** Ready-made model: theta distinct-set state over `valueCol`. */
  def thetaModel(keys: Seq[String], valueCol: String,
      lgK: Int = 12): Model = Model(
    fold = b => graft.operators.ThetaSketchOps.build(b, keys, valueCol, lgK),
    merge = s => graft.operators.ThetaSketchOps.merge(
      s, s.limit(0), keys, lgK))

  /** Ready-made model: Count-Min point-frequency state over `itemCol`
    * ([[graft.operators.CountMin]]); the state key is the sketch cell
    * (seed, bucket), counter addition is the merge. */
  def countMinModel(itemCol: String, depth: Int = 4,
      width: Int = 4096): Model = Model(
    fold = b => graft.operators.CountMin.build(b, itemCol, depth, width),
    merge = s => graft.operators.CountMin.merge(s, s.limit(0)))

  /** Ready-made model: per-key regression MOMENT state
    * ([[graft.operators.LinearModel.momentState]]) — decimal moment
    * addition is the merge, so a continuously-ingested corpus can
    * re-solve its ridge ([[graft.operators.LinearModel.ridgeFromState]])
    * at any time without replaying rows: online model fitting on the
    * same exactly-once rails as the sketch states. */
  def regressionModel(keyCol: String, yCol: String, x1Col: String,
      x2Col: String): Model = Model(
    fold = b => graft.operators.LinearModel.momentState(
      b, keyCol, yCol, x1Col, x2Col),
    merge = s => graft.operators.LinearModel.mergeMomentState(s, keyCol))

  /** Ready-made model: calibration bin-counter state
    * ([[graft.operators.Calibration.binCounts]]) — per-bin
    * (n, n_pos, score_micro_sum) sums, counter addition as the merge,
    * so a continuously-scored stream keeps a live reliability/ECE
    * readout ([[graft.operators.Calibration.reliabilityFromCounts]])
    * without replaying scored rows. */
  def calibrationModel(scoreMicroCol: String, labelCol: String,
      bins: Int): Model = Model(
    fold = b => graft.operators.Calibration.binCounts(
      b, scoreMicroCol, labelCol, bins),
    merge = s => graft.operators.Calibration.mergeBinCounts(s))

  /** Ready-made model: per-time SURVIVAL counter state
    * ([[graft.operators.Survival.perTimeCounts]]) — counter addition
    * merges batches, so a continuously-ingested cohort keeps a live
    * risk table / Kaplan-Meier curve
    * ([[graft.operators.Survival.kaplanMeierFromCounts]]) without
    * replaying label rows; batch-split state reproduces the
    * whole-data curve bit-for-bit (spec-pinned). */
  def survivalModel(durationCol: String, eventCol: String,
      durationBucket: Option[Double] = None): Model = Model(
    fold = b => graft.operators.Survival.perTimeCounts(
      b, durationCol, eventCol, durationBucket),
    merge = s => graft.operators.Survival.mergePerTimeCounts(s))

  /** Per-bin count state for a LIVE drift monitor: merged state +
    * a frozen expected-count table → `Divergence.psiFromCounts` — the
    * "has the ingest distribution moved since training?" readout on
    * the proven exactly-once rails, no row replay. */
  def binCountModel(binCol: String): Model = Model(
    fold = b => graft.operators.Divergence.binCounts(b, binCol),
    merge = s => graft.operators.Divergence.mergeBinCounts(s))

  /** Per-key integer-CENTS value sums + row counts — the grid state
    * behind the LIVE deseasonalized drift gate: keys = (metric key,
    * period tick), counter addition is the merge, and the merged
    * current view feeds
    * [[graft.operators.ChangeDetect.pageHinkleyDeseasonalized]]
    * (decompose → Page-Hinkley on the residual) at any time without
    * replaying rows. Cents quantization keeps batch-split state
    * bit-equal to the whole-data grid (spec-pinned: kill/resume
    * reproduces the uninterrupted readout exactly). */
  def keyedCentsModel(keys: Seq[String], valueCol: String): Model = Model(
    fold = b => b.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sum((col(valueCol).cast("decimal(18,2)") * lit(100))
        .cast("long")).as("cents_sum"),
        count(lit(1)).as("n")),
    merge = s => s.groupBy(keys.map(col): _*)
      .agg(sum(col("cents_sum")).as("cents_sum"), sum(col("n")).as("n")))
}
