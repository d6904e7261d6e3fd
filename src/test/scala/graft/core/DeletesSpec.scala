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
    val (deletes, data) =
      relations(merged).partition(_.forall(_.contains("/_deletes/")))
    assert(data.size === 1)
    assert(data.head.map(f => f.take(f.lastIndexOf('/'))).distinct.size === 8)
    assert(deletes.size === 1)
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
    // v2 is an empty payload: its schema still comes from a footer
    for (v <- Seq(1L, 2L)) {
      assert(OwnDirs.footerSchema(spark, s"$dir/v=$v").isDefined)
      val inferred = spark.read.parquet(s"$dir/v=$v").schema
      assert(Snapshots.read(spark, dir, Some(v)).schema === inferred)
    }
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
}
