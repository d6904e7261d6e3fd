package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog-bucketed table layout: pre-shuffle a table ONCE at write time
  * so every later equi-join / aggregation on the bucket key runs with NO
  * exchange — the canonical way to amortize the big-fact-join shuffle
  * across the many queries of a 100 TB warehouse. Spark's bucketing
  * metadata lives in the catalog, so writes go through `saveAsTable`.
  *
  * Join both sides bucketed with the SAME bucket count on the bucket key
  * and the plan is scan → sort → merge-join: no Exchange on either leg
  * (pinned in BucketingSpec). The per-bucket `sortBy` additionally lets
  * the merge-join skip its Sort when the sort key equals the join key.
  */
object Bucketing {

  /** Write `df` as a bucketed (and per-bucket sorted) parquet catalog
    * table. Pre-repartitions on the bucket columns so each task owns its
    * bucket — one file per bucket instead of tasks × buckets shards.
    *
    * Replaces any previous incarnation: the table is dropped AND its
    * default warehouse location cleared first — a fresh in-memory
    * catalog does not remember a previous session's managed tables, so
    * files left at the location would otherwise fail the create with
    * LOCATION_ALREADY_EXISTS even in overwrite mode. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)))
    val fs = OwnDirs.fileSystem(spark, loc.toString)
    if (fs.exists(loc)) fs.delete(loc, true)
    val sorts = if (sortCols.nonEmpty) sortCols else bucketCols
    df.repartition(nBuckets, bucketCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sorts.head, sorts.tail: _*)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata applies automatically
    * when the session catalog resolves the name). */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
}
