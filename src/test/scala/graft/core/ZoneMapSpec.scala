package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  // 8 files, each holding one contiguous band of 1000 keys — the
  // clustered layout zone maps exist for (shard i covers [i*1000, i*1000+999]).
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-zonemap").toString
    // one append per band: hash repartition would collide bands into
    // shared files and leave others empty — here each file's envelope
    // is exactly its band, the layout zone maps are built for
    (0 until 8).foreach { band =>
      (band * 1000L until (band + 1) * 1000L)
        .map(i => (i, i.toDouble / 7.0, s"p-$i"))
        .toDF("k", "x", "v")
        .coalesce(1).write.mode("append").parquet(d)
    }
    d
  }

  test("one row per file; envelopes cover the data; counts add up") {
    val idx = ZoneMap.build(spark, dir, Seq("k", "x")).cache()
    val nFiles = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    assert(idx.count() === nFiles)
    assert(idx.agg(sum("n_rows")).as[Long].head() === 8000L)
    assert(idx.columns.toSet ===
      Set("file", "n_rows", "min_k", "max_k", "n_vals_k",
        "min_x", "max_x", "n_vals_x"))
    // clustered writer: every file's k-envelope spans exactly its band
    assert(idx.filter(col("max_k") - col("min_k") =!= 999L).count() === 0L)
  }

  test("rangeLookup equals the full-scan filter on every probe") {
    val idx = ZoneMap.build(spark, dir, Seq("k", "x"))
    for ((lo, hi) <- Seq((42L, 57L), (999L, 1001L), (0L, 7999L),
        (9000L, 9999L))) {
      val viaIndex = ZoneMap.rangeLookup(spark, idx, "k", lo, hi)
        .select("k", "v").as[(Long, String)].collect().toSet
      val fullScan = spark.read.parquet(dir)
        .filter(col("k") >= lo && col("k") <= hi)
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(viaIndex === fullScan, s"range=[$lo,$hi]")
    }
  }

  test("the envelope actually prunes on the clustered key") {
    val idx = ZoneMap.build(spark, dir, Seq("k"))
    // an in-band probe touches exactly 1 of 8 files
    assert(ZoneMap.candidateFiles(idx, "k", 4200L, 4300L).size === 1)
    // a band-straddling probe touches exactly 2
    assert(ZoneMap.candidateFiles(idx, "k", 999L, 1001L).size === 2)
    // out-of-range probes touch none
    assert(ZoneMap.candidateFiles(idx, "k", 9000L, 9999L).isEmpty)
  }

  test("all-pruned lookup keeps the table schema") {
    val idx = ZoneMap.build(spark, dir, Seq("k"))
    val out = ZoneMap.rangeLookup(spark, idx, "k", 9000L, 9999L)
    assert(out.columns.toSeq === Seq("k", "x", "v"))
    assert(out.count() === 0L)
  }

  test("all-null files are skipped, never candidates") {
    // build one dir with a guaranteed all-null file next to a data file
    val d = Files.createTempDirectory("graft-zm-null").toString
    Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$d/stage1")
    Seq[(java.lang.Long, String)]((5L, "c")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/stage2")
    val tmp = Files.createTempDirectory("graft-zm-union")
    Seq("stage1" -> "nulls.parquet", "stage2" -> "data.parquet").foreach {
      case (stage, name) =>
        val part = new java.io.File(s"$d/$stage").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
        Files.copy(part, tmp.resolve(name))
    }
    val idx = ZoneMap.build(spark, tmp.toString, Seq("k"))
    // the all-null file has an empty envelope and is never a candidate
    assert(idx.filter(col("n_vals_k") === 0L).count() === 1L)
    val cands = ZoneMap.candidateFiles(idx, "k", 0L, 100L)
    assert(cands.size === 1 && cands.head.endsWith("data.parquet"))
    val got = ZoneMap.rangeLookup(spark, idx, "k", 0L, 100L)
      .select("v").as[String].collect().toSet
    assert(got === Set("c"))
  }

  test("complex-typed columns are rejected") {
    val df = Seq((1L, Seq(1, 2))).toDF("k", "arr")
    val d = Files.createTempDirectory("graft-zm-bad").toString
    df.write.mode("overwrite").parquet(d)
    val ex = intercept[IllegalArgumentException] {
      ZoneMap.build(spark, d, Seq("arr"))
    }
    assert(ex.getMessage.contains("orderable"))
  }

  test("validate fails loudly after an append the index missed") {
    val d = Files.createTempDirectory("graft-zm-stale").toString
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(d)
    // pin the built index rows (as a persisted index would be) — a live
    // lazy plan re-lists the directory on re-execution and would
    // self-refresh past the staleness it exists to catch
    val idx = ZoneMap.build(spark, d, Seq("k")).localCheckpoint(true)
    ZoneMap.validate(spark, idx, d) // fresh: passes
    (100L until 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(d)
    val ex = intercept[IllegalArgumentException] {
      ZoneMap.validate(spark, idx, d)
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("versioned form: commitZoned stages the map inside v=N; rollback stays consistent") {
    val d = Files.createTempDirectory("graft-zm-ver").toString
    val v1 = ZoneMap.commitZoned(
      (0L until 1000L).map(i => (i, s"a$i")).toDF("k", "v")
        .withColumn("shard", (col("k") / 250).cast("int"))
        .repartition(4, col("shard")).drop("shard"),
      d, Seq("k"))
    val v2 = ZoneMap.commitZoned(
      (1000L until 2000L).map(i => (i, s"b$i")).toDF("k", "v")
        .withColumn("shard", (col("k") / 250).cast("int"))
        .repartition(4, col("shard")).drop("shard"),
      d, Seq("k"))
    assert(v2 > v1)
    // latest resolves v2's own index; probe in v2's key range
    val idx2 = ZoneMap.forVersion(spark, d)
    val got2 = ZoneMap.rangeLookup(spark, idx2, "k", 1500L, 1504L)
      .select("v").as[String].collect().toSet
    assert(got2 === (1500L to 1504L).map(i => s"b$i").toSet)
    // time travel to v1 resolves v1's index: the v2 range finds nothing
    val idx1 = ZoneMap.forVersion(spark, d, Some(v1))
    assert(ZoneMap.candidateFiles(idx1, "k", 1500L, 1504L).isEmpty)
    val got1 = ZoneMap.rangeLookup(spark, idx1, "k", 500L, 503L)
      .select("v").as[String].collect().toSet
    assert(got1 === (500L to 503L).map(i => s"a$i").toSet)
  }

  test("forVersion refuses a rolled-back version") {
    val d = Files.createTempDirectory("graft-zm-rb").toString
    val v1 = ZoneMap.commitZoned(Seq((1L, "a")).toDF("k", "v"), d, Seq("k"))
    val v2 = ZoneMap.commitZoned(Seq((2L, "b")).toDF("k", "v"), d, Seq("k"))
    Snapshots.rollback(spark, d, v1)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.forVersion(spark, d, Some(v2))
    }
    assert(e.getMessage.contains(s"version $v2 not committed"))
    assert(ZoneMap.forVersion(spark, d).count() === 1L)
  }
}
