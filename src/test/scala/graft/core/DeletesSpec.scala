package graft.core

import java.nio.file.Files

import graft.SparkSpec

/** Merge-on-read equality deletes over [[Snapshots]] delta tables:
  * sequence-number semantics (a delete removes only EARLIER rows),
  * re-insert survival, null-safe keys, multi-column keys, tagged
  * replay skips, materialize equivalence + tag carrying, and the
  * delete-aware squash. */
class DeletesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-mor").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  test("delete removes earlier rows only; re-insert survives") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)   // v1
    Snapshots.commit(Seq((3L, "c")).toDF("k", "s"), dir)              // v2
    Deletes.commitDeletes(spark, dir, Seq(2L, 3L, 99L).toDF("k"))     // v3
    assert(rows(Deletes.readMerged(spark, dir)) === Set((1L, "a")))
    // re-insert of a deleted key AFTER the delete version survives
    Snapshots.commit(Seq((3L, "c2")).toDF("k", "s"), dir)             // v4
    assert(rows(Deletes.readMerged(spark, dir)) ===
      Set((1L, "a"), (3L, "c2")))
    // time travel: before the delete both batches are whole
    assert(rows(Deletes.readMerged(spark, dir, Some(2L))) ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the delete version itself reads as an empty (schema-true) payload
    assert(Snapshots.read(spark, dir, Some(3L)).count() === 0L)
    assert(Snapshots.read(spark, dir, Some(3L)).columns.toSeq ===
      Seq("k", "s"))
  }

  test("multi-column and null-safe key matching") {
    val dir = tmp()
    Snapshots.commit(Seq(
      (Some(1L), Some("x"), "keep"),
      (Some(1L), Some("y"), "drop"),
      (Some(2L), None, "drop-null"),
      (None, Some("y"), "keep-null")).toDF("k1", "k2", "s"), dir)
    Deletes.commitDeletes(spark, dir,
      Seq((Some(1L), Some("y")), (Some(2L), Option.empty[String]))
        .toDF("k1", "k2"))
    val got = Deletes.readMerged(spark, dir).select("s")
      .as[String].collect().toSet
    assert(got === Set("keep", "keep-null"))
  }

  test("tagged delete replay is skipped") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    assert(Deletes.commitDeletesTagged(spark, dir,
      Seq(1L).toDF("k"), "del-batch-7").isDefined)
    assert(Deletes.commitDeletesTagged(spark, dir,
      Seq(1L).toDF("k"), "del-batch-7").isEmpty)
    assert(Snapshots.versions(spark, dir).size === 2)
    assert(rows(Deletes.readMerged(spark, dir)) === Set((2L, "b")))
  }

  test("materialize folds deletes, prunes history, carries tags") {
    val dir = tmp()
    Snapshots.commitTagged(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      dir, "batch-1")
    Snapshots.commitTagged(Seq((3L, "c")).toDF("k", "s"), dir, "batch-2")
    Deletes.commitDeletesTagged(spark, dir, Seq(2L).toDF("k"), "del-1")
    val before = rows(Deletes.readMerged(spark, dir))
    val v = Deletes.materialize(spark, dir)
    assert(v.isDefined)
    assert(Snapshots.versions(spark, dir) === Seq(v.get))
    assert(rows(Deletes.readMerged(spark, dir)) === before)
    assert(rows(Snapshots.read(spark, dir)) === before)
    // subsumed tags survive the prune: replays of any folded batch skip
    assert(Snapshots.commitTagged(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      dir, "batch-1").isEmpty)
    assert(Deletes.commitDeletesTagged(spark, dir,
      Seq(2L).toDF("k"), "del-1").isEmpty)
    // re-fired materialize on unchanged history is a no-op
    assert(Deletes.materialize(spark, dir).isEmpty)
  }

  test("upsert supersedes earlier rows, keeps its own, inserts new keys") {
    val dir = tmp()
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "a1"), (2L, "b1")).toDF("k", "s"), Seq("k"))      // v1
    Deletes.commitUpsert(spark, dir,
      Seq((2L, "b2"), (3L, "c1")).toDF("k", "s"), Seq("k"))      // v2
    assert(rows(Deletes.readMerged(spark, dir)) ===
      Set((1L, "a1"), (2L, "b2"), (3L, "c1")))
    // a third upsert touching all three keys wins everywhere
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "a3"), (2L, "b3"), (3L, "c3")).toDF("k", "s"), Seq("k"))
    assert(rows(Deletes.readMerged(spark, dir)) ===
      Set((1L, "a3"), (2L, "b3"), (3L, "c3")))
    // time travel still sees the pre-upsert state
    assert(rows(Deletes.readMerged(spark, dir, Some(2L))) ===
      Set((1L, "a1"), (2L, "b2"), (3L, "c1")))
  }

  test("tagged upsert replay is skipped (streaming CDC exactly-once)") {
    val dir = tmp()
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val b1 = Seq((2L, "b2")).toDF("k", "s")
    assert(graft.streaming.SnapshotSink
      .processBatchUpsert(b0, 0L, dir, Seq("k")).contains(1L))
    assert(graft.streaming.SnapshotSink
      .processBatchUpsert(b1, 1L, dir, Seq("k")).contains(2L))
    // rewound checkpoint replays both ids: no new versions, same table
    assert(graft.streaming.SnapshotSink
      .processBatchUpsert(b0, 0L, dir, Seq("k")).isEmpty)
    assert(graft.streaming.SnapshotSink
      .processBatchUpsert(b1, 1L, dir, Seq("k")).isEmpty)
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L))
    assert(rows(Deletes.readMerged(spark, dir)) ===
      Set((1L, "a"), (2L, "b2")))
  }

  test("mergeSchema reads additively evolved versions (old rows null-fill)") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, "a")).toDF("k", "s"), dir)              // v1
    Snapshots.commit(
      Seq((2L, "b", "pt")).toDF("k", "s", "lang"), dir)               // v2
    // strict default fails loudly on the drift
    intercept[org.apache.spark.sql.AnalysisException] {
      Deletes.readMerged(spark, dir).collect()
    }
    val merged = Deletes.readMerged(spark, dir, mergeSchema = true)
    assert(merged.columns.toSet === Set("k", "s", "lang"))
    val got = merged.select("k", "lang").as[(Long, Option[String])]
      .collect().toSet
    assert(got === Set((1L, None), (2L, Some("pt"))))
    // deletes still apply across the evolved history
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))
    assert(Deletes.readMerged(spark, dir, mergeSchema = true)
      .select("k").as[Long].collect().toSet === Set(2L))
  }

  test("diff nets inserts/deletes with multiset multiplicity") {
    val dir = tmp()
    Snapshots.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c")).toDF("k", "s"), dir)
    Snapshots.commit(
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")).toDF("k", "s"), dir)
    val got = Snapshots.diff(spark, dir, 1L, 2L)
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (2L, "b", "delete", 1L),   // rewritten: old value out ...
      (2L, "B", "insert", 1L),   // ... new value in
      (3L, "c", "delete", 1L),   // dup count 2 -> 1: nets to ONE delete
      (4L, "d", "insert", 1L)))  // fresh row
    // identical versions diff to nothing
    assert(Snapshots.diff(spark, dir, 2L, 2L).isEmpty)
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Snapshots.diffFrames(
        Seq(1L).toDF("_change"), Seq(2L).toDF("_change"))
    }
  }

  test("diffMerged nets a delta chain between two merged states") {
    val dir = tmp()
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"))          // v1
    Deletes.commitUpsert(spark, dir,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "s"), Seq("k"))         // v2
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))           // v3
    val got = Deletes.diffMerged(spark, dir, 1L, 3L)
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "a", "delete", 1L),
      (2L, "b", "delete", 1L), (2L, "b2", "insert", 1L),
      (3L, "c", "insert", 1L)))
  }

  test("squashVersions is delete-aware") {
    val dir = tmp()
    Snapshots.commit(
      Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0)).toDF("k", "x", "y"), dir)
    Snapshots.commit(Seq((3L, 3.0, 3.0)).toDF("k", "x", "y"), dir)
    Deletes.commitDeletes(spark, dir, Seq(2L).toDF("k"))
    val v = Compaction.squashVersions(spark, dir,
      keyCol = "k", expectedItemsPerFile = 1024, colA = "x", colB = "y")
    assert(v.isDefined)
    val got = Snapshots.read(spark, dir).select("k").as[Long].collect().toSet
    assert(got === Set(1L, 3L))
  }

  test("resolving committed versions launches no Spark job") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)   // v1
    Snapshots.commit(Seq((3L, "c")).toDF("k", "s"), dir)              // v2
    Deletes.commitDeletes(spark, dir, Seq(2L).toDF("k"))              // v3
    Snapshots.commit(Seq((4L, "d")).toDF("k", "s"), dir)              // v4
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "a2")).toDF("k", "s"), Seq("k"))                     // v5
    val (merged, jobs) = countJobs {
      (1L to 5L).foreach(v => Snapshots.read(spark, dir, Some(v)))
      Snapshots.read(spark, dir)
      Deletes.readMerged(spark, dir)
    }
    assert(jobs === 0)
    assert(rows(merged) === Set((1L, "a2"), (3L, "c"), (4L, "d")))
  }

  test("a table column named _v reads back unchanged") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "_v"), dir)  // v1
    Deletes.commitDeletes(spark, dir, Seq(2L).toDF("k"))              // v2
    val merged = Deletes.readMerged(spark, dir)
    assert(merged.columns.toSeq === Seq("k", "_v"))
    assert(merged.as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
  }

  /** A table with `n` live versions: one plain commit, then upserts that
    * each supersede one earlier key and add one new key. */
  private def upsertHistory(n: Int): String = {
    val dir = tmp()
    Snapshots.commit(Seq((0L, "v1")).toDF("k", "s"), dir)
    (2 to n).foreach(v => Deletes.commitUpsert(spark, dir,
      Seq((v / 2L, s"v$v"), (v.toLong, s"v$v")).toDF("k", "s"), Seq("k")))
    dir
  }

  test("a merged read launches the same jobs at 2, 8 and 32 versions") {
    val jobs = Seq(2, 8, 32).map { n =>
      val dir = upsertHistory(n)
      assert(Snapshots.versions(spark, dir).size === n)
      val (count, jobs) = countJobs(Deletes.readMerged(spark, dir).count())
      // keys 0..n, each last written by the newest version naming it
      assert(count === n + 1L)
      jobs
    }
    assert(jobs.distinct.size === 1, s"jobs at 2/8/32 versions: $jobs")
    assert(jobs.head <= 3, s"jobs at 2/8/32 versions: $jobs")
  }

  /** The file relations of `df`'s optimized plan, as their root paths. */
  private def relations(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            r.location.rootPaths.map(_.toString)
        }
    }

  test("a merged read scans the data once, with no union") {
    val dir = upsertHistory(8)
    val merged = Deletes.readMerged(spark, dir)
    val plan = merged.queryExecution.optimizedPlan
    assert(plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
    // each scan as (the version dirs of its files, its columns)
    val scans = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            (r.location.rootPaths.map(_.getParent.getName).toSet,
              r.dataSchema.fieldNames.toSeq)
        }
    }
    def versions(vs: Range) = vs.map(v => s"v=$v").toSet
    // one data scan over all 8 live versions, and one delete scan: the
    // upserts' (v=2..8) own data files read as their key column (v=1 is
    // the oldest version read: there is nothing earlier to delete)
    assert(scans.size === 2)
    assert(scans.contains((versions(1 to 8), Seq("k", "s"))))
    assert(scans.contains((versions(2 to 8), Seq("k"))))
  }

  test("one anti-join per distinct delete-key column set") {
    val dir = tmp()
    Snapshots.commit(
      Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d")).toDF("k", "s"), dir) // v1
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))                   // v2
    Deletes.commitDeletes(spark, dir, Seq((2L, "b")).toDF("k", "s"))      // v3
    Snapshots.commit(Seq((1L, "a2"), (2L, "b")).toDF("k", "s"), dir)      // v4
    Deletes.commitDeletes(spark, dir, Seq(3L).toDF("k"))                   // v5
    val merged = Deletes.readMerged(spark, dir)
    assert(rows(merged) === Set((1L, "a2"), (2L, "b"), (2L, "c")))
    assert(relations(merged).count(_.forall(_.contains("/_deletes/"))) === 2)
    assert(rows(Deletes.readMerged(spark, dir, Some(3L))) ===
      Set((2L, "c"), (3L, "d")))
    assert(rows(Deletes.readMerged(spark, dir, Some(2L))) ===
      Set((2L, "b"), (2L, "c"), (3L, "d")))
  }

  test("footer schema equals the inferred schema") {
    val dir = tmp()
    Snapshots.commit(spark.sql("""
      SELECT id AS k,
             CAST(id AS DECIMAL(18,2)) AS amount,
             TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT)) AS ts,
             date_add(DATE'2024-01-01', CAST(id AS INT)) AS d,
             id > 0 AS flag,
             array(named_struct('a', id, 'b', IF(id = 1, NULL, 'x'))) AS arr,
             map('m', CAST(id AS DOUBLE)) AS m,
             IF(id % 2 = 0, NULL, CAST(id AS STRING)) AS s
      FROM range(3)"""), dir)                                        // v1
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))              // v2
    assert(OwnDirs.footerSchema(spark, s"$dir/v=1").isDefined)
    val inferred = spark.read.parquet(s"$dir/v=1").schema
    assert(Snapshots.read(spark, dir, Some(1L)).schema === inferred)
    // v2 holds no data file, hence no footer: it reads with v1's schema
    assert(OwnDirs.footerSchema(spark, s"$dir/v=2").isEmpty)
    assert(Snapshots.read(spark, dir, Some(2L)).schema === inferred)
    assert(Snapshots.read(spark, dir, Some(2L)).count() === 0L)
    assert(OwnDirs.footerSchema(spark, s"$dir/v=2/_deletes").isDefined)
    assert(OwnDirs.readParquet(spark, s"$dir/v=2/_deletes").schema ===
      spark.read.parquet(s"$dir/v=2/_deletes").schema)
    assert(Deletes.readMerged(spark, dir).select("k").as[Long]
      .collect().toSet === Set(0L, 2L))
  }

  test("directories without a Spark footer read as before") {
    val missing = s"${tmp()}/absent"
    assert(OwnDirs.footerSchema(spark, missing).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      OwnDirs.readParquet(spark, missing)
    }
    // a partitioned layout keeps partition discovery
    val parted = s"${tmp()}/parted"
    Seq((1L, "a"), (2L, "b")).toDF("k", "p").write.partitionBy("p")
      .parquet(parted)
    assert(OwnDirs.footerSchema(spark, parted).isEmpty)
    assert(OwnDirs.readParquet(spark, parted).schema ===
      spark.read.parquet(parted).schema)
    // a file from another parquet writer carries no Spark schema key
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val foreign = s"${tmp()}/foreign"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional binary s (UTF8); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$foreign/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("k", 7L).append("s", "x"))
    finally w.close()
    assert(OwnDirs.footerSchema(spark, foreign).isEmpty)
    val read = OwnDirs.readParquet(spark, foreign)
    assert(read.schema === spark.read.parquet(foreign).schema)
    assert(read.as[(Long, String)].collect().toSeq === Seq((7L, "x")))
  }

  /** Every file name under `dir`, recursively. */
  private def namesUnder(dir: String): Seq[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally walk.close()
  }

  /** The entry names directly under version `v` of `dir`. */
  private def entries(dir: String, v: Long): Set[String] =
    new java.io.File(s"$dir/v=$v").list().toSet

  /** [[entries]] but data files and checksums: tags, markers, subdirs. */
  private def marks(dir: String, v: Long): Set[String] =
    entries(dir, v).filterNot(n => n.startsWith("part-") || n.startsWith("."))

  /** Commits in the layout written before key tags: an upsert also
    * writes its distinct keys to `_deletes`, a delete writes an empty
    * data file with the table's schema, and every write leaves Spark's
    * `_SUCCESS` marker. */
  private object OldLayout {
    def upsert(dir: String, rows: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): Long =
      Snapshots.commitStaged(spark, dir, (_, staging) => {
        rows.write.parquet(staging.toString)
        rows.select(keys.map(org.apache.spark.sql.functions.col): _*)
          .distinct().write.parquet(s"$staging/_deletes")
      })

    def delete(dir: String, keys: org.apache.spark.sql.DataFrame): Long =
      Snapshots.commitStaged(spark, dir, (_, staging) => {
        spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](),
          Snapshots.read(spark, dir).schema).write.parquet(staging.toString)
        keys.distinct().write.parquet(s"$staging/_deletes")
      })
  }

  /** One CDC history over (k, x), each step in the old layout when
    * `old(step)`: upserts, deletes, a re-insert after a delete. */
  private def cdcHistory(old: Int => Boolean): String = {
    val dir = tmp()
    def upsert(step: Int, rows: Seq[(Long, Double)]): Unit = {
      val df = rows.toDF("k", "x")
      if (old(step)) OldLayout.upsert(dir, df, Seq("k"))
      else Deletes.commitUpsert(spark, dir, df, Seq("k"))
    }
    def delete(step: Int, keys: Seq[Long]): Unit =
      if (old(step)) OldLayout.delete(dir, keys.toDF("k"))
      else Deletes.commitDeletes(spark, dir, keys.toDF("k"))
    upsert(1, Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    upsert(2, Seq((2L, 2.5), (4L, 4.0)))
    delete(3, Seq(1L))
    upsert(4, Seq((1L, 1.5), (3L, 3.5)))
    delete(5, Seq(4L, 9L))
    upsert(6, Seq((5L, 5.0), (2L, 2.75)))
    dir
  }

  private def kx(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
    df.select("k", "x").as[(Long, Double)].collect().toSet

  test("the layout written before key tags still reads, mixed with the new") {
    val oldSteps = Set(1, 3, 6)
    val (allOld, mixed) = (cdcHistory(_ => true), cdcHistory(oldSteps))
    // the mixed history really holds both layouts
    assert(entries(mixed, 1).contains("_deletes"))
    assert(entries(mixed, 1).contains("_SUCCESS"))
    assert(entries(mixed, 3).exists(_.startsWith("part-")))
    assert(entries(mixed, 2).exists(_.startsWith("_keys-")))
    assert(!entries(mixed, 2).contains("_deletes"))
    assert(!entries(mixed, 5).exists(_.startsWith("part-")))
    for (v <- 1L to 6L)
      assert(kx(Deletes.readMerged(spark, mixed, Some(v))) ===
        kx(Deletes.readMerged(spark, allOld, Some(v))), s"at v=$v")
    assert(kx(Deletes.readMerged(spark, mixed)) ===
      Set((1L, 1.5), (2L, 2.75), (3L, 3.5), (5L, 5.0)))
    def diff(dir: String, a: Long, b: Long) =
      Deletes.diffMerged(spark, dir, a, b)
        .as[(Long, Double, String, Long)].collect().toSet
    for ((a, b) <- Seq((1L, 6L), (2L, 5L), (3L, 4L)))
      assert(diff(mixed, a, b) === diff(allOld, a, b), s"diff $a..$b")
    // the two maintenance folds give the same table
    val (squashOld, squashMixed) = (cdcHistory(_ => true), cdcHistory(oldSteps))
    Seq(allOld, mixed).foreach(d => assert(Deletes.materialize(spark, d).isDefined))
    Seq(squashOld, squashMixed).foreach(d => assert(Compaction.squashVersions(
      spark, d, keyCol = "k", expectedItemsPerFile = 1024,
      colA = "k", colB = "x").isDefined))
    val expected = kx(Snapshots.read(spark, allOld))
    assert(expected === Set((1L, 1.5), (2L, 2.75), (3L, 3.5), (5L, 5.0)))
    for (d <- Seq(mixed, squashOld, squashMixed))
      assert(kx(Snapshots.read(spark, d)) === expected)
  }

  test("an upsert is one Spark job; a delete at most two, and no data file") {
    val dir = tmp()
    val (v1, upsertJobs) = countJobs(Deletes.commitUpsert(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), Seq("k")))
    assert(upsertJobs === 1)
    assert(marks(dir, v1) === Set(Deletes.keyTag(Seq("k"))))
    val (v2, deleteJobs) = countJobs(
      Deletes.commitDeletes(spark, dir, Seq(2L, 2L, 7L).toDF("k")))
    assert(deleteJobs <= 2)
    assert(entries(dir, v2) === Set("_deletes"))
    val (_, taggedJobs) = countJobs(Deletes.commitDeletesTagged(spark, dir,
      Seq(3L).toDF("k"), "del-1"))
    assert(taggedJobs <= 2)
    assert(marks(dir, 3L) === Set("_deletes", "_tag-del-1"))
    assert(rows(Deletes.readMerged(spark, dir)) === Set((1L, "a")))
    // a tagged upsert carries both tags, and they stay apart
    Deletes.commitUpsertTagged(spark, dir, Seq((2L, "b2")).toDF("k", "s"),
      Seq("k"), "up-1")
    assert(marks(dir, 4L) === Set("_tag-up-1", Deletes.keyTag(Seq("k"))))
    assert(rows(Deletes.readMerged(spark, dir)) === Set((1L, "a"), (2L, "b2")))
    // an empty delete set commits a version that deletes nothing
    val v5 = Deletes.commitDeletes(spark, dir, Seq.empty[Long].toDF("k"))
    assert(Snapshots.versions(spark, dir).last === v5)
    assert(rows(Deletes.readMerged(spark, dir)) === Set((1L, "a"), (2L, "b2")))
    assert(Snapshots.read(spark, dir).columns.toSeq === Seq("k", "s"))
  }

  test("a small delete set commits one key file") {
    val dir = tmp()
    Snapshots.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    val v = Deletes.commitDeletes(spark, dir, (1L to 20L).toDF("k"))
    val keyFiles = new java.io.File(s"$dir/v=$v/_deletes").list()
      .filter(_.startsWith("part-"))
    assert(keyFiles.length === 1, keyFiles.mkString(","))
  }

  test("no staged write leaves a _SUCCESS file") {
    val dir = tmp()
    Deletes.commitUpsert(spark, dir,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"), Seq("k"))
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))
    Snapshots.commit(Seq((3L, 3.0)).toDF("k", "x"), dir)
    BloomIndex.commitIndexed(Seq((4L, 4.0)).toDF("k", "x"), dir, "k", 1024)
    ZoneMap.commitZoned(Seq((5L, 5.0)).toDF("k", "x"), dir, Seq("x"))
    assert(Seq(1L, 2L, 4L, 5L).map(marks(dir, _)) === Seq(
      Set(Deletes.keyTag(Seq("k"))), Set("_deletes"), Set("_bloom"),
      Set("_zonemap")))
    assert(!namesUnder(dir).contains("_SUCCESS"))
    Compaction.squashVersions(spark, dir, keyCol = "k",
      expectedItemsPerFile = 1024, colA = "k", colB = "x")
    val v = Snapshots.versions(spark, dir).last
    assert(marks(dir, v) === Set("_bloom", s"_tag-squash-5"))
    val dest = s"${tmp()}/dest"
    AtomicParquet.overwrite(Seq((1L, "p")).toDF("k", "part"), dest)
    AtomicParquet.overwrite(Seq((1L, "p")).toDF("k", "part"), s"$dest-by",
      partitionCols = Seq("part"))
    for (d <- Seq(dir, dest, s"$dest-by"))
      assert(!namesUnder(d).contains("_SUCCESS"), d)
    assert(AtomicParquet.read(spark, s"$dest-by").count() === 1L)
  }

  test("key column names with =, comma and space round-trip through the tag") {
    val names = Seq("a=b", "c,d", "e f", "g.h~i/j", "k_1")
    val tag = Deletes.keyTag(names)
    assert(tag.startsWith("_") && !tag.exists("=/ ,".contains(_)))
    assert(Deletes.keysOf(tag) === Some(names))
    assert(Snapshots.tagOf(tag).isEmpty)
    assert(Deletes.keysOf("_tag-keys-x").isEmpty)
    // end to end: an upsert keyed on such columns supersedes its key
    val dir = tmp()
    val cols = Seq("a=b", "c,d", "e f", "v")
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "x", 1, "old"), (2L, "y", 2, "keep")).toDF(cols: _*),
      cols.take(3).map(c => s"`$c`"))
    Deletes.commitUpsert(spark, dir,
      Seq((1L, "x", 1, "new")).toDF(cols: _*), cols.take(3).map(c => s"`$c`"))
    assert(entries(dir, 2L).contains(Deletes.keyTag(cols.take(3))))
    assert(Deletes.readMerged(spark, dir).select("v").as[String].collect()
      .toSet === Set("keep", "new"))
    assert(Snapshots.read(spark, dir, Some(2L)).count() === 1L)
  }

  test("key names too long for a tag fall back to a _deletes key set") {
    // a name that just fits is still a tag
    val fits = "z" * (Deletes.MaxTagLength - Deletes.keyTag(Nil).length)
    assert(Deletes.keyTag(Seq(fits)).length === Deletes.MaxTagLength)
    val atLimit = tmp()
    Deletes.commitUpsert(spark, atLimit, Seq((1L, "a")).toDF(fits, "v"),
      Seq(fits))
    Deletes.commitUpsert(spark, atLimit, Seq((1L, "b")).toDF(fits, "v"),
      Seq(fits))
    assert(marks(atLimit, 2L) === Set(Deletes.keyTag(Seq(fits))))
    assert(Deletes.readMerged(spark, atLimit).select("v").as[String]
      .collect().toSeq === Seq("b"))
    val dir = tmp()
    val long = Seq("x" * 200, "y" * 100)
    Deletes.commitUpsert(spark, dir,
      Seq((1L, 1L, "old"), (2L, 2L, "keep")).toDF(long :+ "v": _*), long)
    Deletes.commitUpsert(spark, dir,
      Seq((1L, 1L, "new")).toDF(long :+ "v": _*), long)
    assert(entries(dir, 2L).contains("_deletes"))
    assert(!entries(dir, 2L).exists(_.startsWith("_keys-")))
    assert(Deletes.readMerged(spark, dir).select("v").as[String].collect()
      .toSet === Set("keep", "new"))
  }

  test("a key tag is never carried by a fold") {
    val dir = tmp()
    Deletes.commitUpsertTagged(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"), "b-1")
    Deletes.commitUpsertTagged(spark, dir,
      Seq((2L, "b2")).toDF("k", "s"), Seq("k"), "b-2")
    val v = Deletes.materialize(spark, dir).get
    assert(marks(dir, v) === Set("_tag-b-1", "_tag-b-2", "_tag-mor-2"))
    assert(rows(Deletes.readMerged(spark, dir)) === Set((1L, "a"), (2L, "b2")))
  }

  test("a delete needs a committed version, and a schema to read with") {
    val dir = tmp()
    val e = intercept[IllegalArgumentException] {
      Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))
    }
    assert(e.getMessage.contains("no committed versions"))
    intercept[IllegalArgumentException] {
      Deletes.commitDeletesTagged(spark, dir, Seq(1L).toDF("k"), "t")
    }
    assert(Snapshots.versions(spark, dir).isEmpty)
    // pruned down to a delete version: no data file is left to read
    Snapshots.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    Deletes.commitDeletes(spark, dir, Seq(1L).toDF("k"))
    Snapshots.prune(spark, dir, keep = 1)
    assert(intercept[RuntimeException](Snapshots.read(spark, dir))
      .getMessage.contains("holds no data file"))
    assert(intercept[IllegalArgumentException](Deletes.readMerged(spark, dir))
      .getMessage.contains("no data file"))
  }
}
