package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import OwnDirs.fileSystem

/** Merge-on-read equality deletes for [[Snapshots]] tables whose
  * versions are per-batch deltas ([[graft.streaming.SnapshotSink]]) —
  * the "delete these keys NOW, without rewriting 100 TB" half of the
  * versioned-table story (public design: Iceberg v2 equality deletes,
  * Delta deletion vectors).
  *
  * A delete commit is an ordinary snapshot version that holds no data
  * file, only its key set in a `_deletes/` parquet dir; an upsert
  * commit is a data version whose delete set is its own rows' key
  * columns, named by a zero-byte `_keys-<names>` tag (no second copy of
  * the keys). Both ride the existing commit protocol unchanged: atomic,
  * concurrent-writer safe, taggable for exactly-once replays, visible
  * iff the version is, rolled back / time-traveled like any other
  * version, and written in one Spark write each.
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
  * DISTINCT delete-key column set (usually one) over the delete sets,
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
    * key. The version holds no data file, only the key set (Spark jobs:
    * the key set's write, at most 2); [[Snapshots.read]] reads it as an
    * empty frame with the previous version's schema. Fails on a table
    * with no committed version. Returns the version number. */
  def commitDeletes(spark: SparkSession, tableDir: String,
      keys: DataFrame): Long = {
    requireVersion(spark, tableDir)
    Snapshots.commitStaged(spark, tableDir, writeKeys(keys))
  }

  /** [[commitDeletes]] with an idempotency tag (same contract as
    * [[Snapshots.commitTagged]]): a replayed delete batch — a rewound
    * CDC checkpoint — is skipped when a committed version already
    * carries `tag`. */
  def commitDeletesTagged(spark: SparkSession, tableDir: String,
      keys: DataFrame, tag: String): Option[Long] = {
    requireVersion(spark, tableDir)
    Snapshots.commitTaggedStaged(spark, tableDir, tag, writeKeys(keys))
  }

  /** Upsert one batch: commit `rows` as a version whose delete-key set
    * is the rows' OWN key projection. Under the sequence-number read
    * rule this is exactly CDC upsert semantics: matching rows in every
    * EARLIER version are superseded, the batch's own rows survive (the
    * delete applies only to strictly earlier versions), and rows for
    * unseen keys are plain inserts. Duplicate keys WITHIN one batch are
    * not resolved — both rows land at the same version; dedup the batch
    * upstream ([[graft.clean.Cleaners]]) if last-wins is needed.
    * Works on an empty table (first version).
    *
    * The key set is not written again: the version's data files hold
    * it, and a zero-byte `_keys-<names>` tag ([[keyTag]]) names the key
    * columns [[readMerged]] reads them with. So the commit is one Spark
    * write (one job for a local frame) and evaluates `rows` once. */
  def commitUpsert(spark: SparkSession, tableDir: String,
      rows: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "commitUpsert: keyCols must be non-empty")
    Snapshots.commitWith(rows, tableDir, stageKeys(rows, keyCols))
  }

  /** [[commitUpsert]] with an idempotency tag — the exactly-once hook
    * for replayed CDC micro-batches
    * ([[graft.streaming.SnapshotSink.upsert]]). */
  def commitUpsertTagged(spark: SparkSession, tableDir: String,
      rows: DataFrame, keyCols: Seq[String], tag: String): Option[Long] = {
    require(keyCols.nonEmpty, "commitUpsertTagged: keyCols must be non-empty")
    Snapshots.commitTaggedWith(rows, tableDir, tag, stageKeys(rows, keyCols))
  }

  private def requireVersion(spark: SparkSession, tableDir: String): Unit =
    require(Snapshots.versions(spark, tableDir).nonEmpty,
      s"no committed versions at $tableDir")

  private val KeyTagPrefix = "_keys-"

  /** Longest name the tag may take: the usual 255-byte name limit of
    * local filesystems and HDFS, less the 5 that the `.<name>.crc` side
    * file of a checksummed filesystem adds. */
  private[core] val MaxTagLength = 250

  private val Plain = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') :+ '_').toSet

  /** The name of the zero-byte tag that names an upsert version's key
    * columns: `_keys-` and the names joined by `.`, every character
    * outside `[A-Za-z0-9_]` written as `~` and four hex digits. So the
    * name holds no `=`, `/` or `.` of a column name: Spark's listing
    * skips it (leading `_`, no `=`), and it never parses as a `_tag-`. */
  private[core] def keyTag(keyCols: Seq[String]): String =
    KeyTagPrefix + keyCols.map(_.flatMap(c =>
      if (Plain(c)) c.toString else f"~${c.toInt}%04x")).mkString(".")

  /** The key columns a version dir entry named `name` names, if it is a
    * [[keyTag]]. */
  private[core] def keysOf(name: String): Option[Seq[String]] =
    Option.when(name.startsWith(KeyTagPrefix))(
      name.stripPrefix(KeyTagPrefix).split("\\.", -1).toSeq.map(
        "~([0-9a-f]{4})".r.replaceAllIn(_, m => scala.util.matching.Regex
          .quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))))

  /** The staged-dir hook of an upsert: the key tag of the columns
    * `keyCols` resolves to in `rows` (so the tag names the columns as
    * the data files store them). Key names too long for one file name
    * fall back to a `_deletes` key set, which [[readMerged]] reads too. */
  private def stageKeys(rows: DataFrame,
      keyCols: Seq[String]): (FileSystem, HPath) => Unit = {
    val keys = rows.select(keyCols.map(col): _*)
    val tag = keyTag(keys.columns.toSeq)
    if (tag.length > MaxTagLength) writeKeys(keys)
    else (fs, staging) => fs.create(new HPath(staging, tag), true).close()
  }

  // no coalesce(1): a CDC delete batch can be corpus-scale, and a
  // single-file write would single-thread it — the key set lands with
  // the distinct's own parallelism (AQE coalesces a small set to one
  // file; small sets fold away at the next materialize/squash anyway).
  // The write creates the staging dir: a delete version holds no data.
  private def writeKeys(keys: DataFrame): (FileSystem, HPath) => Unit =
    (_, staging) => OwnDirs.write(keys.distinct()).mode("error")
      .parquet(new HPath(staging, DeleteDir).toString)

  /** The table's merged contents at `version` (latest when None): union
    * of every committed delta version up to it, minus rows matched by a
    * delete committed at a LATER version than the row's. Delta-table
    * contract (same as [[Compaction.squashVersions]]): versions are
    * appends, not full copies. Every table column reads back as written.
    *
    * A version's delete set is its `_deletes` key files (a delete
    * version; an upsert written before key tags existed) or, for an
    * upsert, its own data files read with the key columns its
    * [[keyTag]] names as the schema. The oldest version read has no
    * earlier row to delete, so its set is not read.
    *
    * Read cost: one plan shape whatever the number of versions — one
    * scan over the version data files, one per distinct delete-key
    * column set over the delete sets, and per delete scan one
    * null-safe anti-join on `keys && rowVersion < deleteVersion`, each
    * version parsed from the file's path. A count launches the same few
    * jobs at 2 or 32 live versions. Building the frame launches none: it
    * lists each version dir once (and a `_deletes` dir where the version
    * dir holds one) and reads one footer per dir on the driver (each
    * schema resolved on its own, so a strict read still fails on schema
    * drift). */
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
    val listed = OwnDirs.listings(spark, dirs)
    require(listed.nonEmpty, s"no data file in the committed versions at " +
      s"$tableDir up to ${vs.max}")
    val data = OwnDirs.scan(spark, listed, mergeSchema)
    val later = dirs.tail.toSet
    val byDir = listed.map(l => l.dir -> l).toMap
    val upsertSets = listed.filter(l => later(l.dir)).flatMap(l =>
      l.hiddenNames.flatMap(keysOf).headOption.map(keys =>
        l.copy(schema = StructType(keys.map(l.schema(_))))))
    val deleteSets = upsertSets ++ OwnDirs.listings(spark, dirs.tail
      .filter(d => byDir.get(d).forall(_.hiddenNames.contains(DeleteDir)))
      .map(d => new HPath(d, DeleteDir).toString))
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
