package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone map (per-file min/max envelopes) for RANGE-predicate
  * file skipping on secondary columns — the classic "small materialized
  * aggregates" index (Moerkotte, VLDB 1998; the same idea parquet
  * row-group stats and warehouse zone maps implement).
  *
  * Why engine-side when parquet footers already hold min/max: footer
  * stats prune ROW GROUPS, but only after the reader has listed and
  * opened every file — at 100 TB that is hundreds of thousands of
  * footer round-trips per query. This index is one tiny table (a row
  * per file) consulted at plan time: non-candidate files are never
  * opened, never even listed into the scan. It complements
  * [[BloomIndex]] (equality keys) with the range half of the skipping
  * story, and it is what makes [[ZOrder]] clustering pay off at read
  * time: after a z-order rewrite the per-file envelopes are tight on
  * every clustered axis, so a range probe touches O(matching) files.
  *
  * Scale shape: the build is one scan with map-side partial min/max —
  * only (file, envelope) rows cross the shuffle; the index is
  * file-count-sized. Pruning filters the index itself with the same
  * predicate algebra Catalyst uses, driver-collects only surviving
  * paths (bounded by file count), and the pruned read returns exactly
  * the full-scan result: an envelope can only over-approximate its
  * file's contents, never exclude a matching row (asserted in
  * ZoneMapSpec and pinned by the q_zonemap_lookup oracle).
  *
  * Null semantics: range predicates never match NULL, so all-null
  * files (null envelope, n_vals = 0) are safely skipped.
  */
object ZoneMap {

  /** Build the index over a parquet dir: one row per data file with
    * `n_rows` and, per requested column, `min_c` / `max_c` / `n_vals_c`
    * in the column's own type (no lossy cast — a long key above 2^53
    * must not round through double). Columns must be orderable
    * primitives for min/max to mean what pruning needs. */
  def build(spark: SparkSession, tableDir: String,
      cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(tableDir)
    cols.foreach(c => requireOrderable(df, c))
    df.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), envelopeAggs(cols): _*)
  }

  private def envelopeAggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"),
      count(col(c)).as(s"n_vals_$c")))

  private def requireOrderable(df: DataFrame, c: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(c).dataType
    val ok = dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    }
    require(ok, s"ZoneMap column '$c' must be an orderable primitive, " +
      s"got $dt — envelopes over complex types don't define pruning")
  }

  /** Files whose envelope intersects [lo, hi] on `c` — evaluated by
    * filtering the INDEX (file-count-sized), not the data. The overlap
    * test is the negation of disjointness, written null-safely: a null
    * envelope (all-null file) is never a candidate. */
  def candidateFiles(index: DataFrame, c: String, lo: Any, hi: Any): Seq[String] =
    index
      .filter(col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
      .select(col("file")).collect().toSeq.map(_.getString(0))

  /** Range lookup through the index: prune files on the envelope, read
    * only survivors, apply the exact predicate. Envelope pruning is
    * conservative, so this returns exactly what the full scan would. */
  def rangeLookup(spark: SparkSession, index: DataFrame, c: String,
      lo: Any, hi: Any): DataFrame = {
    val files = candidateFiles(index, c, lo, hi)
    if (files.isEmpty) {
      // Every file pruned: read ONE file's schema (footer only — the
      // false filter prunes all row groups) so the empty result still
      // carries the table schema.
      spark.read.parquet(anyFileOf(index)).filter(lit(false))
    } else {
      spark.read.parquet(files: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  private def anyFileOf(index: DataFrame): String = {
    val f = index.select(col("file")).limit(1).collect()
    require(f.nonEmpty, "empty zone map: no files to derive a schema from")
    f(0).getString(0)
  }

  /** Fail-loud staleness gate, same contract as [[BloomIndex.validate]]:
    * the index's file set must be EXACTLY the table's current listing —
    * a subset means appended files a lookup would silently miss. */
  def validate(spark: SparkSession, index: DataFrame, tableDir: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val indexed = index.select(col("file")).collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    val p = new HPath(tableDir)
    val fs = OwnDirs.fileSystem(spark, tableDir)
    val current = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath).toSet
    require(indexed == current,
      s"ZoneMap is stale for $tableDir: " +
        s"${(current -- indexed).size} unindexed file(s), " +
        s"${(indexed -- current).size} vanished file(s) — rebuild after " +
        "compaction/recluster/append")
  }

  // ------------------------------------------------------ versioned form

  /** Commit `df` as a new [[Snapshots]] version with its zone map
    * staged inside the version dir (`v=N/_zonemap/`) before the marker
    * claim — index and data share the snapshot protocol's atomicity,
    * exactly like [[BloomIndex.commitIndexed]]. Stored file names are
    * basenames so the build survives the staging→`v=N` rename. */
  def commitZoned(df: DataFrame, tableDir: String, cols: Seq[String]): Long = {
    cols.foreach(c => requireOrderable(df, c))
    Snapshots.commitWith(df, tableDir, (_, staging) => {
      val spark = df.sparkSession
      val idx = OwnDirs.readParquet(spark, staging.toString)
        .select(element_at(split(input_file_name(), "/"), -1).as("file") +:
          cols.map(col): _*)
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_rows"), envelopeAggs(cols): _*)
      idx.write.mode("error").parquet(s"$staging/_zonemap")
    })
  }

  /** The zone map of a committed version (latest when None), basenames
    * resolved against the version dir so the returned index is directly
    * usable with [[candidateFiles]]/[[rangeLookup]]. */
  def forVersion(spark: SparkSession, tableDir: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(Snapshots.versions(spark, tableDir).lastOption
      .getOrElse(sys.error(s"no committed versions under $tableDir")))
    val dir = s"$tableDir/v=$v"
    OwnDirs.readParquet(spark, s"$dir/_zonemap")
      .withColumn("file", concat(lit(s"$dir/"), col("file")))
  }
}
