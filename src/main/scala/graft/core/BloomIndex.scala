package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
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
  * filters are merged map-side by the Aggregator, so only bloom
  * bitmaps (not rows) cross the shuffle, one row per file lands in the
  * index. Lookups read the tiny index, test the key driver-side, and
  * scan only the surviving files.
  */
object BloomIndex {

  /** Serializable Bloom buffer (BloomFilterImpl is Externalizable, so
    * plain Java serialization of the wrapper works for the partial-agg
    * shuffle). */
  final class Buf(var bf: BloomFilter) extends Serializable

  private final class BuildAgg(expected: Long, fpp: Double)
      extends Aggregator[java.lang.Long, Buf, Array[Byte]] {
    def zero: Buf = new Buf(BloomFilter.create(expected, fpp))
    def reduce(b: Buf, v: java.lang.Long): Buf = {
      if (v != null) b.bf.putLong(v.longValue()); b
    }
    def merge(a: Buf, b: Buf): Buf = { a.bf.mergeInPlace(b.bf); a }
    def finish(b: Buf): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      b.bf.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: Encoder[Buf] = Encoders.javaSerialization[Buf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build the index over a parquet table: one row per data file with
    * (file, n_rows, bloom). `expectedItemsPerFile` sizes each filter
    * (overshoot is wasted KBs, undershoot inflates the fpp). The key
    * column must be integral — a silent cast would turn any other type
    * into all-null probes and an index that filters nothing. */
  def build(spark: SparkSession, tableDir: String, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double = 0.01): DataFrame = {
    val agg = udaf(new BuildAgg(expectedItemsPerFile, fpp))
    val df = spark.read.parquet(tableDir)
    requireIntegralKey(df, keyCol)
    df.select(input_file_name().as("file"), col(keyCol).cast("long").as("k"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), agg(col("k")).as("bloom"))
  }

  private def requireIntegralKey(df: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"BloomIndex key '$keyCol' must be integral, got $dt — " +
        "a cast-to-long of strings/decimals would probe nulls and " +
        "never filter")
  }

  /** Current data-file set of a parquet dir — the staleness
    * fingerprint: the index is keyed per file, so any compaction,
    * recluster, or append changes this set and invalidates the index. */
  private def currentFiles(spark: SparkSession, tableDir: String): Set[String] = {
    val fs = OwnDirs.fileSystem(spark, tableDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath).toSet
  }

  /** Fail-loud staleness check: the index's file set must be EXACTLY
    * the table's current listing. A superset means files were deleted
    * (lookups would read missing paths); a subset means files were
    * added (lookups would silently MISS rows — the dangerous case). */
  def validate(spark: SparkSession, index: DataFrame, tableDir: String): Unit = {
    val indexed = index.select(col("file")).collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    val current = currentFiles(spark, tableDir)
    require(indexed == current,
      s"BloomIndex is stale for $tableDir: " +
        s"${(current -- indexed).size} unindexed file(s), " +
        s"${(indexed -- current).size} vanished file(s) — rebuild after " +
        "compaction/recluster/append")
  }

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
    * is bounded by file count, not data size). */
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
      .filter { r =>
        val bf = BloomFilter.readFrom(
          new ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        keys.exists(bf.mightContainLong)
      }
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
      expectedItemsPerFile: Long, fpp: Double = 0.01): Long = {
    requireIntegralKey(df, keyCol)
    Snapshots.commitWith(df, tableDir, stageIndex(df, keyCol,
      expectedItemsPerFile, fpp))
  }

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
      fpp: Double = 0.01, carryTags: Seq[String] = Nil): Option[Long] = {
    requireIntegralKey(df, keyCol)
    Snapshots.commitTaggedWith(df, tableDir, tag, (fs, staging) => {
      // carried tags (e.g. the batch tags a squash subsumes) share the
      // version's atomicity like the primary tag; only the primary tag
      // gates the idempotency check
      carryTags.foreach(t => fs.create(
        new org.apache.hadoop.fs.Path(staging, s"_tag-$t"), true).close())
      stageIndex(df, keyCol, expectedItemsPerFile, fpp)(fs, staging)
    })
  }

  /** The staged-dir index writer shared by both commit forms: build the
    * per-file index over the staging dir (basenames survive the
    * staging→`v=N` rename) and write it to `_bloom/`. */
  private def stageIndex(df: DataFrame, keyCol: String,
      expectedItemsPerFile: Long, fpp: Double)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) => Unit =
    (_, staging) => {
      val spark = df.sparkSession
      val agg = udaf(new BuildAgg(expectedItemsPerFile, fpp))
      val idx = OwnDirs.readParquet(spark, staging.toString)
        .select(
          element_at(split(input_file_name(), "/"), -1).as("file"),
          col(keyCol).cast("long").as("k"))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_rows"), agg(col("k")).as("bloom"))
      idx.write.mode("error").parquet(s"$staging/_bloom")
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
    val dir = versionDir(spark, tableDir, version)
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

  private def versionDir(spark: SparkSession, tableDir: String,
      version: Option[Long]): String = {
    val vs = Snapshots.versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed versions at $tableDir")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v),
      s"version $v not committed at $tableDir (have ${vs.mkString(",")})")
    s"$tableDir/v=$v"
  }

  // ------------------------------------------------------------- lookups

  /** Point lookup through the index: read only candidate files, then
    * apply the exact predicate. Returns exactly what the full scan
    * would (Bloom false negatives are impossible). Trusts the index to
    * match the table — use [[lookupChecked]] when appends/compactions
    * may have happened since [[build]]. */
  def lookup(spark: SparkSession, index: DataFrame, keyCol: String,
      keys: Seq[Long]): DataFrame = {
    val files = candidateFiles(index, keys)
    if (files.isEmpty) {
      // no file can contain the keys: empty frame with the right schema
      // (cheapest source of truth: scan the index's first file's schema
      // would still read a footer — an impossible filter on one file is
      // simpler and prunes to zero row groups)
      val any = index.select(col("file")).limit(1).collect()
      require(any.nonEmpty, "empty index")
      spark.read.parquet(any.head.getString(0)).filter(lit(false))
    } else {
      spark.read.parquet(files: _*)
        .filter(col(keyCol).isin(keys: _*))
    }
  }
}
