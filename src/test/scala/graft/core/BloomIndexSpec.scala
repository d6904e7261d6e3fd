package graft.core

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  // 8 files of 1000 disjoint keys each (a key lives in exactly one file):
  // a range in 8 slices writes one file per slice
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-bloomidx").toString
    spark.range(0L, 8000L, 1L, 8)
      .select(col("id").as("k"), concat(lit("payload-"), col("id")).as("v"))
      .write.mode("overwrite").parquet(d)
    d
  }

  test("index has one row per file and the lookup equals the full scan") {
    val idx = BloomIndex.build(spark, dir, "k",
      expectedItemsPerFile = 2000L).cache()
    val nFiles = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    assert(nFiles === 8L)
    assert(idx.count() === nFiles)
    assert(idx.agg(sum("n_rows")).as[Long].head() === 8000L)

    for (keys <- Seq(Seq(42L), Seq(42L, 7777L), Seq(123456L))) {
      val viaIndex = BloomIndex.lookup(spark, idx, "k", keys)
        .select("k", "v").as[(Long, String)].collect().toSet
      val fullScan = spark.read.parquet(dir)
        .filter(col("k").isin(keys: _*))
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(viaIndex === fullScan, s"keys=$keys")
    }
  }

  test("the index actually prunes: a point key touches few files") {
    val idx = BloomIndex.build(spark, dir, "k",
      expectedItemsPerFile = 2000L, fpp = 0.01)
    val candidates = BloomIndex.candidateFiles(idx, Seq(42L))
    // the key lives in exactly 1 of 8 files; 1% fpp leaves little room
    // for extras — anything under half the files proves real pruning
    assert(candidates.nonEmpty && candidates.size <= 3,
      s"expected strong pruning, got ${candidates.size} of 8 files")
  }

  test("absent keys: empty result, schema preserved") {
    val idx = BloomIndex.build(spark, dir, "k", 2000L)
    val out = BloomIndex.lookup(spark, idx, "k", Seq(999999L))
    assert(out.columns.toSeq === Seq("k", "v"))
    assert(out.count() === 0L)
  }

  test("filters equal BloomFilter.create(n, fpp) fed the same keys by putLong") {
    def created(keys: Seq[Long], n: Long): Seq[Byte] = {
      val bf = BloomFilter.create(n, 0.01)
      keys.foreach(bf.putLong)
      val out = new ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray.toSeq
    }
    // per file: so indexes written by any earlier build probe the same
    val idx = BloomIndex.build(spark, dir, "k", 2000L)
      .select("file", "bloom").as[(String, Array[Byte])].collect()
    assert(idx.length === spark.read.parquet(dir)
      .select(input_file_name()).distinct().count())
    idx.foreach { case (file, bytes) =>
      val keys = spark.read.parquet(file).select("k").as[Long].collect()
      assert(bytes.toSeq === created(keys.toSeq, 2000L), file)
    }
    // driver side: one filter over the whole table
    val whole = spark.read.parquet(dir)
      .select(Bloom.agg(col("k"), 8000L, 0.01)).head().getAs[Array[Byte]](0)
    assert(whole.toSeq === created(0L until 8000L, 8000L))
  }

  test("a file whose keys are all null gets a null filter that matches no key") {
    val d = Files.createTempDirectory("graft-bloomnull").toString
    Seq[(Option[Long], String)]((Some(1L), "a"), (Some(2L), "b"))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(d)
    Seq[(Option[Long], String)]((None, "c"), (None, "d"))
      .toDF("k", "v").coalesce(1).write.mode("append").parquet(d)
    val idx = BloomIndex.build(spark, d, "k", 100L)
    assert(idx.count() === 2L)
    assert(idx.filter(col("bloom").isNull).select("n_rows").as[Long]
      .collect().toSeq === Seq(2L))
    assert(BloomIndex.candidateFiles(idx, Seq(1L, 2L, 3L)).size === 1)
    for (keys <- Seq(Seq(1L), Seq(2L, 3L), Seq(9L))) {
      val viaIndex = BloomIndex.lookup(spark, idx, "k", keys)
        .select("k", "v").as[(Long, String)].collect().toSet
      val fullScan = spark.read.parquet(d)
        .filter(col("k").isin(keys: _*))
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(viaIndex === fullScan, s"keys=$keys")
    }
  }

  test("non-integral key columns are rejected, not silently cast to null") {
    val ex = intercept[IllegalArgumentException] {
      BloomIndex.build(spark, dir, "v", 2000L) // string column
    }
    assert(ex.getMessage.contains("must be integral"))
  }

  test("a stale index (table compacted since build) fails loudly") {
    val d = Files.createTempDirectory("graft-bloomstale").toString
    (0L until 100L).toDF("k").repartition(4).write.mode("overwrite").parquet(d)
    val idx = BloomIndex.build(spark, d, "k", 100L).cache()
    idx.count() // materialize before the files change underneath
    // fresh: the checked lookup passes validation and finds the key
    val fresh = BloomIndex.lookupChecked(spark, idx, d, "k", Seq(7L))
      .as[Long].collect().toSeq
    assert(fresh === Seq(7L))
    // compaction swaps the file set: the cached index is now a lie —
    // the unchecked lookup would read vanished paths or miss rows, the
    // checked one refuses
    Compaction.compact(spark, d)
    val ex = intercept[IllegalArgumentException] {
      BloomIndex.lookupChecked(spark, idx, d, "k", Seq(7L))
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("versioned: index rides the commit; rollback lookup equals that version's scan") {
    val t = Files.createTempDirectory("graft-bloomver").toString
    val v1 = BloomIndex.commitIndexed(
      (0L until 1000L).toDF("k").repartition(4), t, "k", 300L)
    val v2 = BloomIndex.commitIndexed(
      (1000L until 2000L).toDF("k").repartition(4), t, "k", 300L)
    assert(Snapshots.versions(spark, t) === Seq(v1, v2))
    // the in-version _bloom dir is invisible to plain data reads
    assert(Snapshots.read(spark, t).count() === 1000L)
    // latest resolves v2 and v2's index
    assert(BloomIndex.lookupVersion(spark, t, "k", Seq(1500L))
      .as[Long].collect().toSeq === Seq(1500L))
    assert(BloomIndex.lookupVersion(spark, t, "k", Seq(500L)).count() === 0L)
    // rollback: the SAME call now resolves v1 and v1's own index —
    // index-consistent time travel, no rebuild step
    Snapshots.rollback(spark, t, v1)
    val keys = Seq(0L, 500L, 999L, 1500L)
    val viaIndex = BloomIndex.lookupVersion(spark, t, "k", keys)
      .as[Long].collect().toSet
    val fullScan = Snapshots.read(spark, t)
      .filter(col("k").isin(keys: _*)).as[Long].collect().toSet
    assert(viaIndex === fullScan)
    assert(viaIndex === Set(0L, 500L, 999L))
    // the index prunes within the version: a single key touches a
    // fraction of the 4 files
    val idx = BloomIndex.forVersion(spark, t)
    assert(idx.count() === 4L)
    assert(BloomIndex.candidateFiles(idx, Seq(500L)).size <= 2)
  }
}
