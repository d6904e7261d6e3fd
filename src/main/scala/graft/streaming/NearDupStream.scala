package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

import graft.core.{CacheScope, SmallFiles}
import graft.similarity.HyperplaneLSH

/** Continuous embedding near-duplicate detection — the streaming form of
  * [[HyperplaneLSH.nearDupPairsIncremental]]: every micro-batch joins
  * the STORED bucket table, emits the pairs it completes, and appends
  * its own buckets. Only the increment is re-projected against the
  * hyperplanes; the corpus is touched through the bucket join alone
  * (one scan of the stored signature table per batch — signatures, not
  * raw vectors re-hashed).
  *
  * `foreachBatch` is the right seam, not stream-native state: a
  * `mapGroupsWithState` formulation would pin the whole corpus
  * signature set in executor state stores, while a parquet bucket table
  * scales with storage, survives restarts, and is directly usable by
  * the batch operators (one artifact for both worlds).
  *
  * Restart safety, all three failure classes handled loudly or
  * idempotently:
  *  - replayed batch (normal at-least-once foreachBatch): both outputs
  *    are `__batch_id` partitions written by [[StateStream]] (dynamic
  *    overwrite), and the stored read filters to
  *    `__batch_id < current`, so a replay overwrites
  *    its own partitions and recomputes against exactly the pre-batch
  *    corpus — a no-op (spec-pinned);
  *  - torn first write / empty directory: the stored table is read with
  *    an explicit schema, so a directory holding only `_SUCCESS` or
  *    `_temporary` reads as an empty corpus instead of crash-looping on
  *    schema inference;
  *  - lost checkpoint: batch ids would restart at 0, silently hiding
  *    the corpus and clobbering partition 0 — processBatch refuses
  *    (loud error) when `batchId` is behind the newest stored
  *    partition, and a `_LSH_PARAMS` marker pins the (nBits, seed,
  *    dims) plane family so a restart with different parameters cannot
  *    silently join incompatible signatures. */
object NearDupStream {

  /** The table's identity: plane family AND column names — a restart
    * with a renamed id/vector column would otherwise resolve the stored
    * files against the wrong schema and silently null out every
    * batch-vs-corpus pair. */
  private def paramsTag(idCol: String, vecCol: String, nBits: Int,
      seed: Long, dims: Int): String =
    s"""{"nBits":$nBits,"seed":$seed,"dims":$dims,""" +
      s""""id":"$idCol","vec":"$vecCol"}"""

  /** Verify the identity marker if present; refuses a mismatch. Written
    * AFTER a batch's successful data writes ([[stampParams]]), so a
    * failed first batch never pins mistaken parameters. */
  private def checkParams(fs: FileSystem, bucketsPath: String,
      tag: String): Unit = {
    val marker = new HPath(new HPath(bucketsPath), "_LSH_PARAMS")
    if (fs.exists(marker)) {
      val stored = SmallFiles.read(fs, marker)
      require(stored == tag,
        s"bucket table at $bucketsPath was built as plane family/layout " +
          s"$stored; refusing to join with $tag — mismatched planes or " +
          "columns silently find nothing")
    }
  }

  private def stampParams(fs: FileSystem, bucketsPath: String,
      tag: String): Unit =
    SmallFiles.write(fs, new HPath(new HPath(bucketsPath), "_LSH_PARAMS"),
      tag)

  /** One micro-batch: pairs completed by `batch` written to
    * `pairsPath/__batch_id=N`, the batch's buckets (derived ONCE, also
    * feeding the pair join) appended to `bucketsPath/__batch_id=N`.
    * Public so batch jobs (backfills, tests) can drive the exact sink
    * logic. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, nBits: Int, seed: Long, threshold: Double,
      bucketsPath: String, pairsPath: String, dims: Int = 64): Unit = {
    val spark = batch.sparkSession
    val target = new HPath(bucketsPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    StateStream.newestBatch(fs, target).foreach { m =>
      StateStream.requireNotBehind(batchId, m, "bucket table", bucketsPath)
      require(batchId <= m + 1,
        s"batch $batchId skips past the stored bucket table (newest " +
          s"partition $m) at $bucketsPath — the intervening batches' " +
          "vectors are missing from the corpus (restored from an old " +
          "backup?); their pairs would silently never be emitted")
    }
    val tag = paramsTag(idCol, vecCol, nBits, seed, dims)
    checkParams(fs, bucketsPath, tag)
    fs.mkdirs(target) // the explicit-schema read below needs a valid path
    CacheScope.withScope { scope =>
      // derived once: feeds the pair join AND the bucket write
      val bucketsNow = scope.retain(
        HyperplaneLSH.bucketTable(batch, idCol, vecCol, nBits, seed, dims))
      // explicit schema: an empty or torn directory is an empty corpus,
      // never a schema-inference crash loop
      val stored = spark.read
        .schema(bucketsNow.schema.add("__batch_id", LongType))
        .parquet(bucketsPath)
      val pairs = HyperplaneLSH.nearDupPairsIncrementalBucketed(
        bucketsNow,
        stored.filter(col("__batch_id") < batchId).drop("__batch_id"),
        idCol, vecCol, threshold)
      StateStream.writeBatch(pairs, batchId, pairsPath)
      StateStream.writeBatch(bucketsNow, batchId, bucketsPath)
    }
    // pinned only after the batch's writes succeeded: a failed first
    // batch cannot freeze mistaken parameters onto an empty table
    stampParams(fs, bucketsPath, tag)
  }

  /** Attach the sink to a streaming vector source and start it. */
  def start(vecs: DataFrame, idCol: String, vecCol: String, nBits: Int,
      seed: Long, threshold: Double, bucketsPath: String,
      pairsPath: String, checkpointDir: String, dims: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StateStream.startBatches(vecs, checkpointDir, trigger)(
      processBatch(_, _, idCol, vecCol, nBits, seed, threshold,
        bucketsPath, pairsPath, dims))
}
