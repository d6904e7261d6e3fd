package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}

import OwnDirs.fileSystem

/** Versioned parquet tables with time travel — the minimal snapshot
  * protocol a 100 TB pipeline needs for "reprocess against yesterday's
  * input" and "oops, roll back the bad load", without adopting a full
  * transactional table format.
  *
  * Layout:
  * {{{
  *   table/
  *     v=1/ v=2/ ...              immutable per-version parquet dirs
  *     _commits/1 _commits/2 ...  zero-byte commit markers
  *     _staging/<uuid>/           writer-private in-flight attempts
  * }}}
  *
  * Protocol (concurrent-writer safe): each commit writes its data into
  * a WRITER-UNIQUE `_staging/<uuid>` directory, claims a version number
  * with a create-exclusive `_commits/N` marker, and only then renames
  * its own staging dir to `v=N`. Properties:
  *   - no writer ever writes into, renames onto, or deletes a directory
  *     another writer may own: staging paths are unique, and `v=N` is
  *     only touched by the writer holding marker N (exclusive by
  *     construction), so racing writers cannot clobber each other's
  *     data — the marker loser retries at a higher number with its
  *     staging dir intact;
  *   - a committed version is a marker WITH its `v=N` directory present
  *     (the directory rename is atomic, so it appears fully formed). A
  *     crash between claim and rename leaves a dead marker with no
  *     data: the commit never reported success, readers never resolve
  *     it, the number is simply burned (history may have gaps);
  *   - readers resolve a version FIRST, then read an immutable
  *     directory, so a concurrent commit never changes data under a
  *     running query (snapshot isolation for the read);
  *   - the next version number is computed over markers AND data dirs,
  *     so a commit after [[rollback]] claims a fresh number and the
  *     rolled-back data stays available for un-rollback until [[prune]].
  * [[vacuum]] reclaims crash debris (unmarked data dirs, abandoned
  * staging dirs, dead markers) and takes a GRACE WINDOW so it never
  * races an in-flight commit. Like AtomicParquet, the guarantees need
  * atomic create/rename — local FS and HDFS, not copy-based object
  * stores.
  *
  * Read cost: [[read]] lists `_commits` and `v=*` once and reads one
  * data file's footer of the resolved version on the driver; building
  * the DataFrame launches no Spark job (no schema inference — the
  * schema Spark stored in the footer is the one inference would return).
  */
object Snapshots {

  private val MaxCommitRetries = 20

  /** Zero-byte file inside a rolled-back `v=N` dir marking it as
    * INTENTIONALLY kept undo data (vs unreachable crash debris):
    * [[vacuum]] skips tombstoned dirs, [[publish]] refuses to overwrite
    * them, [[unrollback]] restores them, [[prune]] reclaims the aged
    * ones. Underscore-prefixed, so parquet readers ignore it. */
  private val Tombstone = "_rolledback"

  /** Commit `df` as the next version; returns the version number. */
  def commit(df: DataFrame, tableDir: String): Long =
    commitWith(df, tableDir, (_, _) => ())

  /** The commit skeleton shared by every variant: stage uniquely, run
    * `beforeClaim` against the staged data dir (tags, per-version
    * indexes — anything that must be visible iff the version is), then
    * claim + publish. Package-private so sibling per-version artifacts
    * ([[BloomIndex.commitIndexed]]) ride the same atomicity. */
  private[core] def commitWith(df: DataFrame, tableDir: String,
      beforeClaim: (FileSystem, HPath) => Unit): Long = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, tableDir)
    fs.mkdirs(new HPath(tableDir, "_commits"))
    val staging =
      new HPath(tableDir, s"_staging/${java.util.UUID.randomUUID()}")
    df.write.mode("error").parquet(staging.toString)
    beforeClaim(fs, staging)
    var attempt = 0
    var v = nextVersion(fs, tableDir)
    while (attempt < MaxCommitRetries) {
      // another writer claiming v between our read and our marker is
      // fine — our staging dir is untouched; we retry one version up
      val claimed = claimExclusive(fs, new HPath(tableDir, s"_commits/$v"))
      if (claimed && publish(fs, tableDir, staging, v)) return v
      attempt += 1
      v = math.max(v + 1, nextVersion(fs, tableDir))
    }
    fs.delete(staging, true) // giving up: reclaim our own staging only
    sys.error(s"Snapshots.commit: lost the version race " +
      s"$MaxCommitRetries times at $tableDir")
  }

  /** Create-exclusive marker claim — the protocol's ONE atomic
    * primitive. On HDFS `fs.create(p, overwrite = false)` is an atomic
    * namespace operation; on the LOCAL filesystem Hadoop implements it
    * as exists-then-open, which two racing writers can BOTH pass — so
    * the `file` scheme routes through NIO `Files.createFile`
    * (O_CREAT|O_EXCL, kernel-atomic). Object stores without atomic
    * create are out of scope (class doc). */
  private def claimExclusive(fs: FileSystem, p: HPath): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.io.IOException => false }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Owner-only publish: marker N is held. An existing `v=N` without a
    * [[Tombstone]] is unreachable crash debris (a pre-claim crash of a
    * protocol violator) — remove it and move our staged data into place
    * (atomic dir rename). An existing `v=N` WITH a tombstone is
    * rolled-back data kept for undo: a concurrent [[rollback]] deleted
    * marker N between our nextVersion read and our claim. We must not
    * destroy it — release the claim and report failure so the commit
    * loop retries at a higher number. */
  private def publish(fs: FileSystem, tableDir: String,
      staging: HPath, v: Long): Boolean = {
    val data = new HPath(tableDir, s"v=$v")
    if (fs.exists(new HPath(data, Tombstone))) {
      fs.delete(new HPath(tableDir, s"_commits/$v"), false)
      return false
    }
    if (fs.exists(data)) fs.delete(data, true)
    if (!fs.rename(staging, data))
      sys.error(s"Snapshots.commit: rename $staging -> $data failed")
    true
  }

  /** Commit with an idempotency tag: when a COMMITTED version already
    * carries `tag`, the commit is skipped and None is returned. The tag
    * is a zero-byte `_tag-<tag>` file written into the STAGED data
    * directory before the claim, so it is visible exactly when the
    * version is: a crash before the publish completes leaves an
    * invisible attempt and the retry commits cleanly; a crash after
    * leaves the tag visible and the retry skips. This is the
    * exactly-once hook [[graft.streaming.SnapshotSink]] uses for
    * replayed micro-batch ids. (Underscore-prefixed files are ignored
    * by parquet readers.) Concurrent same-tag writers are not
    * serialized — the contract targets sequential retries/replays. */
  def commitTagged(df: DataFrame, tableDir: String, tag: String): Option[Long] =
    commitTaggedWith(df, tableDir, tag, (_, _) => ())

  /** [[commitTagged]] + an extra staged-dir hook (per-version indexes —
    * see [[BloomIndex.commitIndexedTagged]]); the tag file and the
    * hook's artifacts share the version's atomicity. */
  private[graft] def commitTaggedWith(df: DataFrame, tableDir: String,
      tag: String, beforeClaim: (FileSystem, HPath) => Unit): Option[Long] = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, tableDir)
    if (taggedVersion(fs, tableDir, tag).isDefined) return None
    Some(commitWith(df, tableDir, (f, data) => {
      f.create(new HPath(data, s"_tag-$tag"), true).close()
      beforeClaim(f, data)
    }))
  }

  /** The committed version carrying `tag`, if any. */
  def taggedVersion(spark: SparkSession, tableDir: String,
      tag: String): Option[Long] =
    taggedVersion(fileSystem(spark, tableDir), tableDir, tag)

  private def taggedVersion(fs: FileSystem, tableDir: String,
      tag: String): Option[Long] =
    committedVersions(fs, tableDir).sorted.find(v =>
      fs.exists(new HPath(tableDir, s"v=$v/_tag-$tag")))

  /** Read a specific committed version, or the latest when None. */
  def read(spark: SparkSession, tableDir: String,
      version: Option[Long] = None): DataFrame = {
    val fs = fileSystem(spark, tableDir)
    val vs = committedVersions(fs, tableDir)
    require(vs.nonEmpty, s"no committed versions at $tableDir")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v),
      s"version $v not committed at $tableDir (have ${vs.sorted.mkString(",")})")
    OwnDirs.readParquet(spark, versionDir(tableDir, v))
  }

  /** The data directory of version `v` — read it only once `v` is
    * resolved as committed. */
  private[core] def versionDir(tableDir: String, v: Long): String =
    new HPath(tableDir, s"v=$v").toString

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] =
    committedVersions(fileSystem(spark, tableDir), tableDir).sorted

  /** Row-level diff between two committed versions of a FULL-COPY table
    * (each version a complete table): what changed from `fromV` to
    * `toV`, as rows tagged `_change` ('insert' rows appear in `toV` but
    * not `fromV`; 'delete' the reverse) with multiset multiplicity
    * `_n`. Unchanged rows never appear.
    *
    * Shape at scale: ONE shuffle — both sides tagged ±1, grouped on the
    * full row, net ≠ 0 kept (equivalent to `exceptAll` both ways at
    * half the exchanges). Still a full-table shuffle by nature: this is
    * the audit/backfill tool; keyed CDC history ([[Deletes]] delta
    * versions) is the scale path when changes must be cheap to read. */
  def diff(spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long): org.apache.spark.sql.DataFrame =
    diffFrames(read(spark, tableDir, Some(fromV)),
      read(spark, tableDir, Some(toV)))

  private[core] def diffFrames(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = a.columns.toSeq
    require(b.columns.toSeq == cols,
      s"diff: schemas differ (${cols.mkString(",")} vs ${b.columns.mkString(",")})")
    require(!cols.contains("_change") && !cols.contains("_n") &&
      !cols.contains("_w") && !cols.contains("_net"),
      "diff: reserved column name (_change/_n/_w/_net) in input schema")
    a.withColumn("_w", lit(-1L)).unionByName(b.withColumn("_w", lit(1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_w")).as("_net"))
      .filter(col("_net") =!= 0L)
      .select(cols.map(col) :+
        when(col("_net") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change") :+
        abs(col("_net")).as("_n"): _*)
  }

  /** Drop every commit AFTER `toVersion` — the next read resolves
    * `toVersion` as latest. Data directories are kept (a rollback can
    * itself be undone by re-creating markers) until [[prune]]; new
    * commits claim numbers ABOVE the rolled-back dirs, never reusing
    * them, so the undo option survives subsequent writes. */
  def rollback(spark: SparkSession, tableDir: String, toVersion: Long): Unit = {
    val fs = fileSystem(spark, tableDir)
    val vs = committedVersions(fs, tableDir)
    require(vs.contains(toVersion),
      s"cannot roll back to uncommitted version $toVersion")
    vs.filter(_ > toVersion).foreach { v =>
      // tombstone FIRST: from the moment the marker is gone the dir is
      // marker-less, and the tombstone is the only thing telling vacuum
      // (and a number-reusing publish) "kept for undo, not debris"
      fs.create(new HPath(tableDir, s"v=$v/$Tombstone"), true).close()
      fs.delete(new HPath(tableDir, s"_commits/$v"), false)
    }
  }

  /** Undo a [[rollback]]: re-create the commit markers of every
    * tombstoned (rolled-back, still-on-disk) version and clear the
    * tombstones, making those versions resolvable again. Versions a
    * later [[prune]] already reclaimed cannot come back. Returns the
    * restored version numbers, ascending. */
  def unrollback(spark: SparkSession, tableDir: String): Seq[Long] = {
    val fs = fileSystem(spark, tableDir)
    val restored = Option(fs.globStatus(new HPath(tableDir, "v=*")))
      .getOrElse(Array.empty).toSeq
      .flatMap(s => versionOf(s.getPath.getName))
      .filter(v => fs.exists(new HPath(tableDir, s"v=$v/$Tombstone")))
      .sorted
    restored.foreach { v =>
      claimExclusive(fs, new HPath(tableDir, s"_commits/$v")) // or already back
      fs.delete(new HPath(tableDir, s"v=$v/$Tombstone"), false)
    }
    restored
  }

  /** Keep the newest `keep` committed versions; delete older markers
    * AND their data. The latest version is always kept. Rolled-back
    * (tombstoned) dirs OLDER than every kept version have aged out of
    * their undo window and are reclaimed too; rolled-back dirs newer
    * than the oldest kept version stay restorable via [[unrollback]]. */
  def prune(spark: SparkSession, tableDir: String, keep: Int): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val fs = fileSystem(spark, tableDir)
    val vs = committedVersions(fs, tableDir).sorted
    vs.dropRight(keep).foreach { v =>
      fs.delete(new HPath(tableDir, s"_commits/$v"), false)
      fs.delete(new HPath(tableDir, s"v=$v"), true)
    }
    vs.takeRight(keep).headOption.foreach { oldestKept =>
      dataDirVersions(fs, tableDir)
        .filter(v => v < oldestKept &&
          fs.exists(new HPath(tableDir, s"v=$v/$Tombstone")))
        .foreach(v => fs.delete(new HPath(tableDir, s"v=$v"), true))
    }
  }

  /** Reclaim crash debris: data directories with no commit marker,
    * abandoned `_staging` attempts, and dead markers with no data.
    * Returns the reclaimed data-dir version numbers.
    *
    * `graceMs` is the concurrency guard: anything modified within the
    * last `graceMs` milliseconds is SKIPPED, so a vacuum racing an
    * in-flight commit (whose staging dir or just-renamed data dir is
    * seconds old) cannot destroy it. Pass a grace comfortably above the
    * longest expected commit (default 15 min); 0 only when no writer
    * can be running. */
  def vacuum(spark: SparkSession, tableDir: String,
      graceMs: Long = 15 * 60 * 1000L): Seq[Long] = {
    val fs = fileSystem(spark, tableDir)
    val cutoff = System.currentTimeMillis() - graceMs
    val committed = committedMarkers(fs, tableDir).toSet
    // unmarked v=* data dirs (crashed pre-protocol writers, pruned
    // leftovers) — markers alone decide visibility, so marker-less dirs
    // are unreachable debris
    val orphans = Option(fs.globStatus(new HPath(tableDir, "v=*")))
      .getOrElse(Array.empty).toSeq
      .filter(_.getModificationTime < cutoff)
      .flatMap(s => versionOf(s.getPath.getName).map((_, s.getPath)))
      .filterNot { case (v, _) => committed(v) }
      // rolled-back dirs are intentional undo data, not debris — they
      // outlive any grace window and are reclaimed only by prune
      .filterNot { case (_, p) => fs.exists(new HPath(p, Tombstone)) }
    orphans.foreach { case (_, p) => fs.delete(p, true) }
    // abandoned staging attempts (writer crashed before its claim)
    Option(fs.globStatus(new HPath(tableDir, "_staging/*")))
      .getOrElse(Array.empty)
      .filter(_.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
    // dead markers (claim landed, publish crashed): invisible to
    // readers, but dropping them keeps the history listing clean
    val live = dataDirVersions(fs, tableDir).toSet
    Option(fs.listStatus(new HPath(tableDir, "_commits")))
      .getOrElse(Array.empty)
      .filter(_.getModificationTime < cutoff)
      .filter(s => s.getPath.getName.toLongOption.exists(v => !live(v)))
      .foreach(s => fs.delete(s.getPath, false))
    orphans.map(_._1).sorted
  }

  private[core] def versionOf(dirName: String): Option[Long] =
    if (dirName.startsWith("v=")) dirName.drop(2).toLongOption else None

  /** Marker files present (claimed numbers, committed or dead). */
  private def committedMarkers(fs: FileSystem, tableDir: String): Seq[Long] = {
    val dir = new HPath(tableDir, "_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName.toLongOption)
  }

  private def dataDirVersions(fs: FileSystem, tableDir: String): Seq[Long] =
    Option(fs.globStatus(new HPath(tableDir, "v=*")))
      .getOrElse(Array.empty).toSeq
      .flatMap(s => versionOf(s.getPath.getName))

  /** A version is committed iff its marker AND its data dir exist: the
    * marker is the claim, the (atomically renamed) data dir is the
    * publish. Dead markers — claim landed, publish crashed — never
    * resolve. */
  private def committedVersions(fs: FileSystem, tableDir: String): Seq[Long] = {
    val data = dataDirVersions(fs, tableDir).toSet
    committedMarkers(fs, tableDir).filter(data)
  }

  /** Next claimable number: above every marker (claimed, possibly dead)
    * AND every data dir (possibly rolled-back, kept for undo). */
  private def nextVersion(fs: FileSystem, tableDir: String): Long = {
    val all = committedMarkers(fs, tableDir) ++ dataDirVersions(fs, tableDir)
    (if (all.isEmpty) 0L else all.max) + 1
  }
}
