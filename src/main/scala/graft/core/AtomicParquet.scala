package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}

import OwnDirs.fileSystem

/** Staged truncate-then-load for file destinations (SURVEY §7.5.6): the
  * reference does TRUNCATE + INSERT + single COMMIT in one destination
  * transaction; Spark's file committer alone leaves a window where the
  * destination is empty or partial. This utility writes to a staging
  * directory and swaps via two filesystem renames — readers see either
  * the old or the new COMPLETE dataset, never a partial one.
  *
  * Atomicity contract, precisely: each rename is atomic on the local FS
  * and on HDFS, but the swap is two renames (dest -> .__old__, then
  * staging -> dest), so there is a moment where `dest` does not exist. A
  * reader in that window fails with path-not-found (and can retry); it
  * can never observe partial data. A crash in that window strands the
  * data in `.__old__` — both `overwrite` and `read` begin by restoring
  * `.__old__` when `dest` is absent, so the next touch self-heals.
  * Object stores without atomic rename (s3a renames are copies) get no
  * guarantee from this protocol — use a transactional table format
  * there; this utility covers local and HDFS paths, resolved through the
  * Hadoop FileSystem API so any scheme with true renames works.
  */
object AtomicParquet {

  /** Write `df` as the new content of `destDir` via staged rename swap.
    * `partitionCols` (optional) hive-partitions the staged write — the
    * swap protocol is identical, so partitioned state directories (e.g.
    * [[graft.streaming.StateStream]] compaction) get the same
    * all-or-nothing guarantee. */
  def overwrite(df: DataFrame, destDir: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, destDir)
    val dest = new HPath(destDir)
    val staging = new HPath(destDir + ".__staging__")
    val backup = new HPath(destDir + ".__old__")
    recoverIfNeeded(fs, dest, backup)
    fs.delete(staging, true)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    // swap: dest -> backup, staging -> dest, drop backup
    fs.delete(backup, true)
    if (fs.exists(dest) && !fs.rename(dest, backup))
      sys.error(s"rename $dest -> $backup failed")
    if (!fs.rename(staging, dest)) {
      // roll back: restore the previous generation
      if (fs.exists(backup) && !fs.exists(dest)) fs.rename(backup, dest)
      sys.error(s"rename $staging -> $dest failed")
    }
    fs.delete(backup, true)
  }

  /** Read the destination, first restoring `.__old__` if a crash between
    * the swap renames left no current generation. */
  def read(spark: SparkSession, destDir: String): DataFrame = {
    val fs = fileSystem(spark, destDir)
    recoverIfNeeded(fs, new HPath(destDir), new HPath(destDir + ".__old__"))
    OwnDirs.readParquet(spark, destDir)
  }

  /** True when `destDir` currently exists (post-recovery) on its FS. */
  def exists(spark: SparkSession, destDir: String): Boolean = {
    val fs = fileSystem(spark, destDir)
    val dest = new HPath(destDir)
    recoverIfNeeded(fs, dest, new HPath(destDir + ".__old__"))
    fs.exists(dest)
  }

  private def recoverIfNeeded(fs: FileSystem, dest: HPath, backup: HPath): Unit =
    if (!fs.exists(dest) && fs.exists(backup) && !fs.rename(backup, dest))
      sys.error(s"crash recovery rename $backup -> $dest failed")
}
