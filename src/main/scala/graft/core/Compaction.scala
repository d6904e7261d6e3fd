package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, min}

/** Small-file compaction for parquet directories — the maintenance pass
  * every incremental pipeline needs: appends and per-batch state
  * partitions accumulate files far below the ideal scan granularity, and
  * at 100 TB the NameNode/listing cost and per-file open overhead of a
  * million 2 MB files dominate the read path long before the bytes do.
  *
  * `compact` sizes the rewrite from the actual FS listing
  * (`ceil(bytes / targetBytes)` output files, min 1), round-robin
  * repartitions — even output sizes without assuming any key
  * distribution — and swaps atomically via [[AtomicParquet]] (readers
  * see the old or the new complete directory, never a mix). Idempotent:
  * re-running on a compacted directory is a no-op-sized rewrite.
  *
  * Returns (filesBefore, bytesBefore, filesAfter).
  */
object Compaction {

  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Long, Int) =
    rewrite(spark, dir, targetBytes)(_.repartition(_))

  /** Compaction + z-order reclustering in ONE atomic rewrite: size the
    * output from the listing like [[compact]], but range-partition and
    * sort on the Morton key of two columns ([[ZOrder]]) instead of
    * round-robin — the same maintenance pass then also restores
    * multi-column min-max selectivity that drifts as appends interleave
    * key ranges. The swap is the same [[AtomicParquet]] staged rename,
    * so readers never see a partial recluster.
    *
    * Returns (filesBefore, bytesBefore, filesAfter). */
  def recluster(spark: SparkSession, dir: String,
      colA: String, boundsA: (Double, Double),
      colB: String, boundsB: (Double, Double),
      targetBytes: Long = 128L * 1024 * 1024): (Int, Long, Int) =
    rewrite(spark, dir, targetBytes)((df, nOut) =>
      ZOrder.layout(df, colA, boundsA, colB, boundsB, partitions = nOut))

  /** The atomic rewrite both passes share: `layout` gets the directory's
    * contents and the output file count sized from its listing. */
  private def rewrite(spark: SparkSession, dir: String, targetBytes: Long)(
      layout: (DataFrame, Int) => DataFrame): (Int, Long, Int) = {
    require(targetBytes > 0, s"bad targetBytes=$targetBytes")
    val fs = OwnDirs.fileSystem(spark, dir)
    val before = OwnDirs.dataFiles(fs, dir)
    val bytes = before.map(_.getLen).sum
    AtomicParquet.overwrite(layout(AtomicParquet.read(spark, dir),
      OwnDirs.outputFiles(bytes, targetBytes)), dir)
    (before.length, bytes, OwnDirs.dataFiles(fs, dir).length)
  }

  /** Maintenance pass for a [[Snapshots]] table whose versions are
    * per-micro-batch deltas ([[graft.streaming.SnapshotSink]]): squash
    * the merged contents of all committed versions ([[Deletes.readMerged]],
    * so merge-on-read deletes are folded in, not resurrected) into ONE
    * new version — compacted (output file count sized from the summed
    * on-disk bytes), z-order reclustered on `(colA, colB)`, and
    * Bloom-indexed on `keyCol` — then prune history to that version.
    * After the squash, "the table" is its latest version: point lookups
    * go through [[BloomIndex.lookupVersion]], and both clustering
    * columns' per-file min-max envelopes are restored.
    *
    * The squash version carries tag `squash-<n>` so a crashed-and-rerun
    * maintenance job is idempotent per input state (n = the latest
    * version squashed).
    *
    * Exactly-once survives the prune: every subsumed version's tags
    * (batch ids, prior squashes) are CARRIED into the squash version,
    * so a replay of any squashed batch id — even from a rewound
    * checkpoint older than the squash — still resolves its tag and is
    * skipped (the skeleton [[Deletes.foldHistory]]).
    *
    * Returns the squash version number (None when the latest version is
    * already a squash of the current history). */
  def squashVersions(spark: SparkSession, tableDir: String,
      keyCol: String, expectedItemsPerFile: Long,
      colA: String, colB: String,
      targetBytes: Long = 128L * 1024 * 1024): Option[Long] = {
    require(targetBytes > 0, s"bad targetBytes=$targetBytes")
    Deletes.foldHistory(spark, tableDir, "squash") { (merged, bytes) =>
      // both clustering columns' bounds in one aggregation job
      val b = merged.agg(min(colA).cast("double"), max(colA).cast("double"),
        min(colB).cast("double"), max(colB).cast("double")).head()
      val clustered = ZOrder.layout(merged, colA, (b.getDouble(0), b.getDouble(1)),
        colB, (b.getDouble(2), b.getDouble(3)),
        partitions = OwnDirs.outputFiles(bytes, targetBytes))
      (clustered, BloomIndex.stageIndex(clustered, keyCol,
        expectedItemsPerFile, fpp = 0.01))
    }
  }
}
