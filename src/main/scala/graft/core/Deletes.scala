package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import OwnDirs.fileSystem

/** Merge-on-read equality deletes for [[Snapshots]] tables whose
  * versions are per-batch deltas ([[graft.streaming.SnapshotSink]]) —
  * the "delete these keys NOW, without rewriting 100 TB" half of the
  * versioned-table story (public design: Iceberg v2 equality deletes,
  * Delta deletion vectors).
  *
  * A delete commit is an ordinary snapshot version whose data payload is
  * EMPTY (schema-preserving) and whose key set lives in a `_deletes/`
  * parquet dir inside the version — so it rides the existing commit
  * protocol unchanged: atomic, concurrent-writer safe, taggable for
  * exactly-once replays, visible iff the version is, rolled back /
  * time-traveled like any other version.
  *
  * Read-side semantics (Iceberg sequence-number rule): a delete at
  * version D removes matching rows from versions STRICTLY BEFORE D.
  * Rows (re-)inserted at version > D survive — so CDC streams with
  * delete-then-reinsert churn resolve correctly without any rewrite.
  * Key comparison is null-safe (`<=>`): a null key component matches a
  * null row component, never a non-null one.
  *
  * The 100 TB shape: a read is one plan whatever the history length —
  * one parquet scan over every live version's data, one scan per
  * DISTINCT delete-key column set (usually one) over the delete files,
  * and one anti-join per delete scan; each row's version comes from its
  * file's path. Delete sets between maintenance passes are batch-sized,
  * not table-sized. [[materialize]] is the maintenance half — fold the
  * deletes in once, commit the result as a single full version
  * (subsumed batch/delete tags carried, so pruned history cannot break
  * exactly-once replays — the same [[foldHistory]] skeleton as
  * [[Compaction.squashVersions]], which is itself delete-aware).
  *
  * Reference analogue: fastETL deletes destination rows by key via
  * in-database DML (`fastetl/custom_functions/fast_etl.py:626`, the
  * incremental-sync exclusion step); on an immutable parquet lake the
  * same contract needs delete FILES, not DML — this module is that
  * re-expression.
  */
object Deletes {

  private val DeleteDir = "_deletes"

  /** Commit a delete-only version: `keys`' columns ARE the equality
    * key. Requires at least one committed version (the empty payload
    * borrows the latest version's schema). Returns the version number.
    */
  def commitDeletes(spark: SparkSession, tableDir: String,
      keys: DataFrame): Long =
    Snapshots.commitWith(emptyPayload(spark, tableDir), tableDir,
      writeKeys(keys))

  /** [[commitDeletes]] with an idempotency tag (same contract as
    * [[Snapshots.commitTagged]]): a replayed delete batch — a rewound
    * CDC checkpoint — is skipped when a committed version already
    * carries `tag`. */
  def commitDeletesTagged(spark: SparkSession, tableDir: String,
      keys: DataFrame, tag: String): Option[Long] =
    Snapshots.commitTaggedWith(emptyPayload(spark, tableDir), tableDir, tag,
      writeKeys(keys))

  /** Upsert one batch: commit `rows` as a version whose delete-key set
    * is the rows' OWN key projection. Under the sequence-number read
    * rule this is exactly CDC upsert semantics: matching rows in every
    * EARLIER version are superseded, the batch's own rows survive (the
    * delete applies only to strictly earlier versions), and rows for
    * unseen keys are plain inserts. Duplicate keys WITHIN one batch are
    * not resolved — both rows land at the same version; dedup the batch
    * upstream ([[graft.clean.Cleaners]]) if last-wins is needed.
    * Works on an empty table (first version). */
  def commitUpsert(spark: SparkSession, tableDir: String,
      rows: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "commitUpsert: keyCols must be non-empty")
    Snapshots.commitWith(rows, tableDir,
      writeKeys(rows.select(keyCols.map(col): _*)))
  }

  /** [[commitUpsert]] with an idempotency tag — the exactly-once hook
    * for replayed CDC micro-batches
    * ([[graft.streaming.SnapshotSink.upsert]]). */
  def commitUpsertTagged(spark: SparkSession, tableDir: String,
      rows: DataFrame, keyCols: Seq[String], tag: String): Option[Long] = {
    require(keyCols.nonEmpty, "commitUpsertTagged: keyCols must be non-empty")
    Snapshots.commitTaggedWith(rows, tableDir, tag,
      writeKeys(rows.select(keyCols.map(col): _*)))
  }

  private def emptyPayload(spark: SparkSession, tableDir: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Snapshots.read(spark, tableDir).schema)

  // no coalesce(1): a CDC delete batch can be corpus-scale, and a
  // single-file write would single-thread it — the key set lands with
  // the distinct's own parallelism (small sets fold away at the next
  // materialize/squash anyway)
  private def writeKeys(keys: DataFrame): (FileSystem, HPath) => Unit =
    (_, staging) => keys.distinct().write.mode("error")
      .parquet(new HPath(staging, DeleteDir).toString)

  /** The table's merged contents at `version` (latest when None): union
    * of every committed delta version up to it, minus rows matched by a
    * delete committed at a LATER version than the row's. Delta-table
    * contract (same as [[Compaction.squashVersions]]): versions are
    * appends, not full copies. Every table column reads back as written.
    *
    * Read cost: one plan shape whatever the number of versions — one
    * scan over the version data files, one per distinct delete-key
    * column set over the `_deletes` files, and per delete scan one
    * null-safe anti-join on `keys && rowVersion < deleteVersion`, each
    * version parsed from the file's path. A count launches the same few
    * jobs at 2 or 32 live versions. Building the frame launches none: it
    * lists each version dir and `_deletes` dir once and reads one footer
    * per dir on the driver (each schema resolved on its own, so a strict
    * read still fails on schema drift). */
  def readMerged(spark: SparkSession, tableDir: String,
      version: Option[Long] = None, mergeSchema: Boolean = false): DataFrame = {
    val all = Snapshots.versions(spark, tableDir)
    val vs = version.fold(all)(cap => all.filter(_ <= cap))
    require(vs.nonEmpty, s"no committed versions at $tableDir" +
      version.fold("")(v => s" at or below $v"))
    // mergeSchema = additive schema evolution (lakehouse convention:
    // opt-in on read): versions written before a column existed read it
    // as null. Strict by default so an accidental schema drift fails
    // loudly instead of null-filling.
    val dirs = vs.map(Snapshots.versionDir(tableDir, _))
    val data = OwnDirs.scan(spark, OwnDirs.listings(spark, dirs), mergeSchema)
    val deleteSets = OwnDirs.listings(spark,
      dirs.map(d => new HPath(d, DeleteDir).toString))
    // one anti-join per DISTINCT key-column set (usually exactly one)
    deleteSets.groupBy(_.schema.fieldNames.sorted.toSeq).foldLeft(data) {
      case (acc, (cols, sets)) =>
        val del = OwnDirs.scan(spark, sets, allowMissingColumns = false)
        val keysMatch = cols.map(c => acc(c) <=> del(c)).reduce(_ && _)
        acc.join(del, keysMatch && versionOf(data) < versionOf(del),
          "left_anti")
    }
  }

  /** The version of each row of a [[readMerged]] scan, from the end of
    * its file's path (`v=N/part-*`, `v=N/_deletes/part-*`): unlike a
    * discovered `v` partition or an added column, the file-metadata
    * column cannot clash with a table column. */
  private def versionOf(scan: DataFrame): Column =
    regexp_extract(scan.metadataColumn("_metadata").getField("file_path"),
      s"/v=(\\d+)/(?:$DeleteDir/)?[^/]*$$", 1).cast("long")

  /** [[Snapshots.diff]] for DELTA tables: the row-level change feed
    * between the MERGED states at two versions — everything a chain of
    * appends, upserts and deletes netted out to between `fromV` and
    * `toV`. Same one-shuffle ±1 netting; `mergeSchema` as in
    * [[readMerged]] (both sides must net to the same column set). */
  def diffMerged(spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long, mergeSchema: Boolean = false): DataFrame =
    Snapshots.diffFrames(
      readMerged(spark, tableDir, Some(fromV), mergeSchema),
      readMerged(spark, tableDir, Some(toV), mergeSchema))

  /** Maintenance: fold all deletes in and commit the merged contents as
    * ONE new full version, then prune history to it. Idempotent per
    * input state (tag `mor-<latestV>`); every subsumed version's tags —
    * batch ids, delete-batch ids, prior squashes — are carried, so a
    * replay from a checkpoint older than the materialize still resolves
    * its tag and skips. Returns the new version (None when already
    * materialized for this history). */
  def materialize(spark: SparkSession, tableDir: String): Option[Long] =
    foldHistory(spark, tableDir, "mor")((merged, _) => (merged, (_, _) => ()))

  /** The skeleton of [[materialize]] and [[Compaction.squashVersions]]:
    * commit the [[readMerged]] history as one version tagged
    * `<prefix>-<latestV>` that carries every subsumed tag, then prune
    * to it. `layout` gets the merged frame and the history's data bytes
    * and returns the frame to commit and a staged-dir hook. None when
    * this history is already folded. */
  private[core] def foldHistory(spark: SparkSession, tableDir: String,
      prefix: String)(
      layout: (DataFrame, Long) => (DataFrame, (FileSystem, HPath) => Unit))
      : Option[Long] = {
    val vs = Snapshots.versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed versions at $tableDir")
    val fs = fileSystem(spark, tableDir)
    val listed = vs.flatMap(v =>
      fs.listStatus(new HPath(Snapshots.versionDir(tableDir, v))))
    val carried = listed.flatMap(s => Snapshots.tagOf(s.getPath.getName))
      .distinct
    val tag = s"$prefix-${vs.max}"
    // already folded: this history's fold is committed (a crashed
    // rerun), or the only version is itself a fold output (maintenance
    // fired twice with no new batches)
    if (carried.contains(tag) ||
        (vs.size == 1 && carried.exists(_.startsWith(s"$prefix-"))))
      return None
    val (out, stage) = layout(readMerged(spark, tableDir),
      listed.filter(OwnDirs.isDataFile).map(_.getLen).sum)
    // carried tags share the version's atomicity like the primary tag;
    // only the primary tag gates the idempotency check
    val folded = Snapshots.commitTaggedWith(out, tableDir, tag,
      (f, staging) => {
        carried.foreach(Snapshots.writeTag(f, staging, _))
        stage(f, staging)
      })
    // only after the folded version is committed does history collapse
    folded.foreach(_ => Snapshots.prune(spark, tableDir, keep = 1))
    folded
  }
}
