package graft.core

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * The 100 TB shape: reading pays one anti-join per DISTINCT delete-key
  * column set (usually one), shuffling only on those key columns;
  * delete sets between maintenance passes are batch-sized, not
  * table-sized. [[materialize]] is the maintenance half — fold the
  * deletes in once, commit the result as a single full version
  * (subsumed batch/delete tags carried, so pruned history cannot break
  * exactly-once replays — same contract as
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
      keys: DataFrame): Long = {
    val payload = emptyPayload(spark, tableDir)
    Snapshots.commitWith(payload, tableDir, (_, staging) =>
      writeKeys(keys, staging))
  }

  /** [[commitDeletes]] with an idempotency tag (same contract as
    * [[Snapshots.commitTagged]]): a replayed delete batch — a rewound
    * CDC checkpoint — is skipped when a committed version already
    * carries `tag`. */
  def commitDeletesTagged(spark: SparkSession, tableDir: String,
      keys: DataFrame, tag: String): Option[Long] = {
    val payload = emptyPayload(spark, tableDir)
    Snapshots.commitTaggedWith(payload, tableDir, tag, (_, staging) =>
      writeKeys(keys, staging))
  }

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
    Snapshots.commitWith(rows, tableDir, (_, staging) =>
      writeKeys(rows.select(keyCols.map(col): _*), staging))
  }

  /** [[commitUpsert]] with an idempotency tag — the exactly-once hook
    * for replayed CDC micro-batches
    * ([[graft.streaming.SnapshotSink.upsert]]). */
  def commitUpsertTagged(spark: SparkSession, tableDir: String,
      rows: DataFrame, keyCols: Seq[String], tag: String): Option[Long] = {
    require(keyCols.nonEmpty, "commitUpsertTagged: keyCols must be non-empty")
    Snapshots.commitTaggedWith(rows, tableDir, tag, (_, staging) =>
      writeKeys(rows.select(keyCols.map(col): _*), staging))
  }

  private def emptyPayload(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = Snapshots.versions(spark, tableDir)
    require(vs.nonEmpty,
      s"Deletes.commitDeletes: no committed versions at $tableDir " +
        "(a delete against an empty table has nothing to define its schema)")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      OwnDirs.readParquet(spark, Snapshots.versionDir(tableDir, vs.max)).schema)
  }

  // no coalesce(1): a CDC delete batch can be corpus-scale, and a
  // single-file write would single-thread it — the key set lands with
  // the distinct's own parallelism (small sets fold away at the next
  // materialize/squash anyway)
  private def writeKeys(keys: DataFrame, staging: HPath): Unit =
    keys.distinct().write.mode("error")
      .parquet(new HPath(staging, DeleteDir).toString)

  /** The table's merged contents at `version` (latest when None): union
    * of every committed delta version up to it, minus rows matched by a
    * delete committed at a LATER version than the row's. Delta-table
    * contract (same as [[Compaction.squashVersions]]): versions are
    * appends, not full copies.
    *
    * Read cost: building the frame launches no Spark job. It lists the
    * committed versions and their `_deletes` dirs once, then reads one
    * footer per version data dir and per `_deletes` dir on the driver
    * (each dir's schema resolved on its own, so a strict read still
    * fails on schema drift). */
  def readMerged(spark: SparkSession, tableDir: String,
      version: Option[Long] = None, mergeSchema: Boolean = false): DataFrame = {
    val fs = fileSystem(spark, tableDir)
    val all = Snapshots.versions(spark, tableDir)
    val vs = version.fold(all)(cap => all.filter(_ <= cap))
    require(vs.nonEmpty, s"no committed versions at $tableDir" +
      version.fold("")(v => s" at or below $v"))
    // mergeSchema = additive schema evolution (lakehouse convention:
    // opt-in on read): versions written before a column existed read it
    // as null. Strict by default so an accidental schema drift fails
    // loudly instead of null-filling.
    val data = vs.map(v =>
        OwnDirs.readParquet(spark, Snapshots.versionDir(tableDir, v))
          .withColumn("_v", lit(v)))
      .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    val withDeletes = Option(fs.globStatus(
        new HPath(tableDir, s"v=*/$DeleteDir")))
      .getOrElse(Array.empty).toSeq
      .flatMap(s => Snapshots.versionOf(s.getPath.getParent.getName))
      .toSet
    // one anti-join per DISTINCT key-column set (usually exactly one)
    val deletes = vs
      .filter(withDeletes)
      .map { v =>
        val k = OwnDirs.readParquet(spark,
          new HPath(Snapshots.versionDir(tableDir, v), DeleteDir).toString)
        (k.columns.sorted.toSeq, k.withColumn("_dv", lit(v)))
      }
      .groupBy(_._1)
      .map { case (cols, xs) => cols -> xs.map(_._2).reduce(_ unionByName _) }
    deletes.foldLeft(data) { case (acc, (cols, del)) =>
      val keysMatch = cols.map(c => acc(c) <=> del(c)).reduce(_ && _)
      acc.join(del, keysMatch && acc("_v") < del("_dv"), "left_anti")
    }.drop("_v")
  }

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
  def materialize(spark: SparkSession, tableDir: String): Option[Long] = {
    val vs = Snapshots.versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed versions at $tableDir")
    val tag = s"mor-${vs.max}"
    if (Snapshots.taggedVersion(spark, tableDir, tag).isDefined) return None
    val fs = fileSystem(spark, tableDir)
    // single-version history that IS a materialize output: nothing to
    // fold (the crashed-rerun case is the tag check above; this catches
    // "maintenance fired twice with no new batches" — same guard as
    // Compaction.squashVersions)
    if (vs.size == 1 && Option(fs.globStatus(
        new HPath(tableDir, s"v=${vs.max}/_tag-mor-*")))
        .exists(_.nonEmpty)) return None
    val carried = vs.flatMap { v =>
      fs.listStatus(new HPath(tableDir, s"v=$v")).map(_.getPath.getName)
        .filter(_.startsWith("_tag-")).map(_.stripPrefix("_tag-"))
    }.distinct
    val merged = readMerged(spark, tableDir)
    val out = Snapshots.commitTaggedWith(merged, tableDir, tag,
      (f, staging) => carried.foreach(t =>
        f.create(new HPath(staging, s"_tag-$t"), true).close()))
    out.foreach(_ => Snapshots.prune(spark, tableDir, keep = 1))
    out
  }
}
