package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.{BloomPrefilter, Triangles}

/** Every Bloom caller goes through [[Bloom]] in the same number of
  * Spark jobs as its earlier build (`stat.bloomFilter`, a hand-written
  * per-file Aggregator, a broadcast UDF probe): the figures below are
  * the ones those builds launched. Sizes over Spark's Bloom caps fail
  * instead of being clamped, and no plan string carries filter bytes. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("Bloom callers launch the same number of Spark jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val (_, tri) = countJobs(CacheScope.withScope(scope =>
      Triangles.perNode(edges, "src", "dst", scope).collect()))
    val probe = (1L to 5000L).toDF("k")
    val build = (1L to 5000L by 11).toDF("bk")
    val (_, semi) = countJobs(
      BloomPrefilter.semiJoin(probe, "k", build, "bk", 4096).collect())
    val dir = Files.createTempDirectory("graft-bloomjobs").toString
    (0L until 400L).toDF("k").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val (_, idx) = countJobs(BloomIndex.build(spark, dir, "k", 200L).collect())
    val table = Files.createTempDirectory("graft-bloomjobsv").toString
    val (_, commit) = countJobs(BloomIndex.commitIndexed(
      (0L until 400L).toDF("k").repartition(4), table, "k", 200L))
    assert((tri, semi, idx, commit) === ((20, 4, 3, 4)))
  }

  test("a filter over Spark's Bloom size caps fails, naming the conf") {
    val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val tooMany = intercept[IllegalArgumentException](
      Bloom.agg(col("k"), 4000001L, 0.01))
    assert(tooMany.getMessage.contains(items))
    // 4M items at 1e-4 need ~76.7 Mbit, over the 64 Mbit default
    val tooWide = intercept[IllegalArgumentException](
      Bloom.agg(col("k"), 4000000L, 1e-4))
    assert(tooWide.getMessage.contains(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"))
    Bloom.agg(col("k"), 4000000L, 0.01) // at the item cap: builds
    spark.conf.set(items, "8000000")
    try {
      val bytes = (1L to 100L).toDF("k")
        .select(Bloom.agg(col("k"), 4000001L, 0.01)).head()
        .getAs[Array[Byte]](0)
      assert(org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
        .mightContainLong(42L))
    } finally spark.conf.unset(items)
  }

  test("the filter runs as a scalar subquery, so no plan string carries it") {
    val probe = (1L to 5000L).toDF("k")
    val build = (1L to 200000L).toDF("bk")
    // 1<<20 items at 1% is a ~1.26 MB filter: ~2.5M hex chars per plan
    // form had it been a binary literal
    val pre = BloomPrefilter.prefilter(probe, "k", build, "bk", 1 << 20)
    assert(pre.count() === 5000L)
    val described = pre.queryExecution.toString
    assert(described.contains("might_contain"))
    assert(described.contains("scalar-subquery"))
    assert(described.length < 100000, s"${described.length} chars")
  }
}
