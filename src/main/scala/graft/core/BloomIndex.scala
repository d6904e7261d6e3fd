package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** File-level Bloom index for point lookups on a non-clustered key.
  *
  * Parquet min-max stats prune beautifully on the SORT key and not at
  * all on any other: a point lookup on a secondary key scans every
  * file. A few KB of Bloom filter per file fixes that — the index maps
  * each data file to a membership sketch of its key values; a lookup
  * consults the (file-count-sized) index first and reads only the files
  * that *might* contain the key. False positives cost one wasted file
  * read; false negatives are impossible, so the pruned lookup returns
  * exactly what the full scan would (asserted in BloomIndexSpec).
  *
  * This is the DIY form of parquet's own bloom_filter column option,
  * kept engine-side so it works on data written by anyone, composes
  * with [[Snapshots]] versioned dirs, and can be rebuilt without
  * rewriting data.
  *
  * Scale shape: the build is one pass over the table — per-file partial
  * filters ([[Bloom.agg]]) are merged map-side, so only bloom bitmaps
  * (not rows) cross the shuffle, one row per file lands in the index.
  * Lookups read the tiny index, test the key driver-side, and scan only
  * the surviving files.
  */
object BloomIndex {

  /** Build the index over a parquet table: one row per data file with
    * (file, n_rows, bloom). `expectedItemsPerFile` sizes each filter
    * (overshoot is wasted KBs, undershoot inflates the fpp). The key
    * column must be integral — a silent cast would turn any other type
    * into all-null probes and an index that filters nothing. A file
    * whose keys are all null gets a null `bloom`, which no key matches. */
  def build(spark: SparkSession, tableDir: String, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double = 0.01): DataFrame = {
    val df = spark.read.parquet(tableDir)
    requireIntegralKey(df, keyCol)
    perFile(df, input_file_name(), keyCol, expectedItemsPerFile, fpp)
  }

  /** One index row per `file` value of `rows`: (file, n_rows, bloom). */
  private def perFile(rows: DataFrame, file: Column, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double): DataFrame =
    rows.groupBy(file.as("file"))
      .agg(count(lit(1)).as("n_rows"),
        Bloom.agg(col(keyCol), expectedItemsPerFile, fpp).as("bloom"))

  private def requireIntegralKey(df: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"BloomIndex key '$keyCol' must be integral, got $dt — " +
        "a cast-to-long of strings/decimals would probe nulls and " +
        "never filter")
  }

  /** Fail-loud staleness check ([[OwnDirs.requireCurrent]]): the index
    * is keyed per file, so any compaction, recluster or append since
    * [[build]] fails it. */
  def validate(spark: SparkSession, index: DataFrame, tableDir: String): Unit =
    OwnDirs.requireCurrent(spark, "BloomIndex", index, tableDir)

  /** [[lookup]] with the staleness gate: validates the index against
    * the table's current file listing first, so a lookup through an
    * index that predates a compaction or append fails loudly instead of
    * silently missing rows. */
  def lookupChecked(spark: SparkSession, index: DataFrame, tableDir: String,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    validate(spark, index, tableDir)
    lookup(spark, index, keyCol, keys)
  }

  /** Files that may contain ANY of `keys` (driver-side test over the
    * per-file index — the index has one row per file, so collecting it
    * is bounded by file count, not data size; `might_contain` needs one
    * filter for all rows, so it cannot test a per-row column). A null
    * `bloom` (no non-null key in the file) contains nothing. */
  def candidateFiles(index: DataFrame, keys: Seq[Long]): Seq[String] =
    index.select(col("file"), col("bloom")).collect().toSeq
      .map { r =>
        // Guard against the on-disk versioned form (basenames) leaking
        // in — a bare name would resolve against the working dir and
        // silently read nothing. Use [[forVersion]], which qualifies.
        require(r.getString(0).contains("/"),
          s"index stores relative file name '${r.getString(0)}' — read " +
            "versioned indexes via forVersion/lookupVersion, not the " +
            "_bloom dir directly")
        r
      }
      .filter(r => Option(r.getAs[Array[Byte]]("bloom"))
        .map(b => BloomFilter.readFrom(b))
        .exists(bf => keys.exists(bf.mightContainLong)))
      .map(_.getString(0))

  // ------------------------------------------------------ versioned form

  /** Commit `df` as a new [[Snapshots]] version WITH its Bloom index
    * written inside the version directory (`v=N/_bloom/`, underscore
    * prefix so parquet readers skip it) BEFORE the commit marker claims
    * the version. Index and data therefore share the snapshot
    * protocol's atomicity: time travel and [[Snapshots.rollback]]
    * resolve a version together with its matching index, and no
    * committed version can exist without one. File names are stored
    * RELATIVE (basenames) so the staged-dir build survives the
    * staging→`v=N` rename. */
  def commitIndexed(df: DataFrame, tableDir: String, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double = 0.01): Long =
    Snapshots.commitWith(df, tableDir, stageIndex(df, keyCol,
      expectedItemsPerFile, fpp))

  /** [[commitIndexed]] with [[Snapshots.commitTagged]]'s idempotency
    * contract: when a COMMITTED version already carries `tag`, nothing
    * commits and None returns — the exactly-once hook for streaming
    * micro-batch replays whose versions need point-lookup indexes
    * ([[graft.streaming.SnapshotSink.appendIndexed]]). Both per-version
    * artifacts (the `_tag-` file and the `_bloom/` index) land in the
    * staged dir BEFORE the marker claim, so they are visible exactly
    * when the version is. */
  def commitIndexedTagged(df: DataFrame, tableDir: String, tag: String,
      keyCol: String, expectedItemsPerFile: Long,
      fpp: Double = 0.01): Option[Long] =
    Snapshots.commitTaggedWith(df, tableDir, tag, stageIndex(df, keyCol,
      expectedItemsPerFile, fpp))

  /** The staged-dir index writer shared by every indexed commit (both
    * commit forms and [[Compaction.squashVersions]]): checks the key is
    * integral when called, then builds the per-file index over the
    * staging dir (basenames survive the staging→`v=N` rename) and
    * writes it to `_bloom/`. */
  private[core] def stageIndex(df: DataFrame, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) => Unit = {
    requireIntegralKey(df, keyCol)
    (_, staging) => {
      val idx = perFile(
        OwnDirs.readParquet(df.sparkSession, staging.toString),
        element_at(split(input_file_name(), "/"), -1), keyCol,
        expectedItemsPerFile, fpp)
      OwnDirs.write(idx).mode("error").parquet(s"$staging/_bloom")
    }
  }

  /** The Bloom index of a committed version (latest when None).
    *
    * On disk (`v=N/_bloom`) file names are stored as BASENAMES so the
    * staged-dir build survives the staging→`v=N` rename; this accessor
    * resolves them against the version directory, so every index
    * DataFrame that leaves this object uses one format — absolute
    * paths — and is directly usable with [[lookup]]/[[candidateFiles]].
    */
  def forVersion(spark: SparkSession, tableDir: String,
      version: Option[Long] = None): DataFrame = {
    val dir = Snapshots.committedDir(spark, tableDir, version)
    OwnDirs.readParquet(spark, s"$dir/_bloom")
      .withColumn("file", concat(lit(s"$dir/"), col("file")))
  }

  /** Version-consistent point lookup: prune through the index stored
    * INSIDE `v=N`, read only surviving files of that same version.
    * After a rollback this resolves the rolled-back-to version and its
    * own index — returns exactly that version's full-scan result. */
  def lookupVersion(spark: SparkSession, tableDir: String, keyCol: String,
      keys: Seq[Long], version: Option[Long] = None): DataFrame =
    lookup(spark, forVersion(spark, tableDir, version), keyCol, keys)

  // ------------------------------------------------------------- lookups

  /** Point lookup through the index: read only candidate files, then
    * apply the exact predicate. Returns exactly what the full scan
    * would (Bloom false negatives are impossible). Trusts the index to
    * match the table — use [[lookupChecked]] when appends/compactions
    * may have happened since [[build]]. */
  def lookup(spark: SparkSession, index: DataFrame, keyCol: String,
      keys: Seq[Long]): DataFrame =
    OwnDirs.readCandidates(spark, index, candidateFiles(index, keys),
      col(keyCol).isin(keys: _*))
}
