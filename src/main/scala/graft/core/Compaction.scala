package graft.core

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession

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
      targetBytes: Long = 128L * 1024 * 1024): (Int, Long, Int) = {
    require(targetBytes > 0, s"bad targetBytes=$targetBytes")
    val fs = OwnDirs.fileSystem(spark, dir)
    def dataFiles() = fs.listStatus(new HPath(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = AtomicParquet.read(spark, dir).repartition(nOut)
    AtomicParquet.overwrite(df, dir)
    (before.length, bytes, dataFiles().length)
  }

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
      targetBytes: Long = 128L * 1024 * 1024): (Int, Long, Int) = {
    require(targetBytes > 0, s"bad targetBytes=$targetBytes")
    val fs = OwnDirs.fileSystem(spark, dir)
    def dataFiles() = fs.listStatus(new HPath(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = ZOrder.layout(AtomicParquet.read(spark, dir),
      colA, boundsA, colB, boundsB, partitions = nOut)
    AtomicParquet.overwrite(df, dir)
    (before.length, bytes, dataFiles().length)
  }

  /** Maintenance pass for a [[Snapshots]] table whose versions are
    * per-micro-batch deltas ([[graft.streaming.SnapshotSink]]): squash
    * the union of all committed versions into ONE new version —
    * compacted (output file count sized from the summed on-disk bytes),
    * z-order reclustered on `(colA, colB)`, and Bloom-indexed on
    * `keyCol` — then prune history to that version. After the squash,
    * "the table" is its latest version: point lookups go through
    * [[BloomIndex.lookupVersion]], and both clustering columns' per-file
    * min-max envelopes are restored.
    *
    * The squash version carries tag `squash-<n>` so a crashed-and-rerun
    * maintenance job is idempotent per input state (n = the latest
    * version squashed).
    *
    * Exactly-once survives the prune: every subsumed version's tags
    * (batch ids, prior squashes) are CARRIED into the squash version,
    * so a replay of any squashed batch id — even from a rewound
    * checkpoint older than the squash — still resolves its tag and is
    * skipped.
    *
    * Returns the squash version number (None when the latest version is
    * already a squash of the current history). */
  def squashVersions(spark: SparkSession, tableDir: String,
      keyCol: String, expectedItemsPerFile: Long,
      colA: String, colB: String,
      targetBytes: Long = 128L * 1024 * 1024): Option[Long] = {
    require(targetBytes > 0, s"bad targetBytes=$targetBytes")
    val vs = Snapshots.versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed versions at $tableDir")
    val tag = s"squash-${vs.max}"
    if (Snapshots.taggedVersion(spark, tableDir, tag).isDefined) return None
    val fs = OwnDirs.fileSystem(spark, tableDir)
    // single-version history that IS a squash output: nothing to do
    // (the crashed-rerun case is the tag check above; this catches the
    // "maintenance fired twice with no new batches" case)
    if (vs.size == 1 && Option(fs.globStatus(
        new HPath(tableDir, s"v=${vs.max}/_tag-squash-*")))
        .exists(_.nonEmpty)) return None
    val bytes = vs.map { v =>
      fs.listStatus(new HPath(tableDir, s"v=$v"))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // delete-aware: fold in any merge-on-read delete versions
    // ([[Deletes]]) so the squash materializes them instead of
    // resurrecting deleted rows
    val union = Deletes.readMerged(spark, tableDir)
    import org.apache.spark.sql.functions.{col, min, max}
    def bounds(c: String): (Double, Double) = {
      val r = union.agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
        .head()
      (r.getDouble(0), r.getDouble(1))
    }
    val clustered = ZOrder.layout(union, colA, bounds(colA),
      colB, bounds(colB), partitions = nOut)
    // carry every subsumed tag (batch ids, prior squashes) into the
    // squash version: a replay of ANY squashed batch id — however old
    // the replay horizon — still resolves its tag and is skipped, so
    // pruning history cannot break exactly-once
    val carried = vs.flatMap { v =>
      fs.listStatus(new HPath(tableDir, s"v=$v")).map(_.getPath.getName)
        .filter(_.startsWith("_tag-")).map(_.stripPrefix("_tag-"))
    }.distinct
    val squashed = BloomIndex.commitIndexedTagged(clustered, tableDir, tag,
      keyCol, expectedItemsPerFile, carryTags = carried)
    // only after the squash version is committed does history collapse
    squashed.foreach(_ => Snapshots.prune(spark, tableDir, keep = 1))
    squashed
  }
}
