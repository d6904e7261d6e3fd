package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.sketch.BloomFilter

/** The library's one Bloom-filter path: built by Catalyst's
  * `BloomFilterAggregate`, probed by its codegen'd `might_contain`
  * (`BloomFilterMightContain`), so both stay inside whole-stage codegen
  * with no UDF boundary and no broadcast variable to release. Keys are
  * hashed as longs, so a filter built here is byte-identical to
  * `BloomFilter.create(n, fpp)` fed the same keys through `putLong`. */
object Bloom {

  /** Aggregate Column: the serialized Bloom filter of `key` (cast to
    * long) per group, sized for `expectedItems` at `fpp`; null for a
    * group with no non-null key. `BloomFilterAggregate` silently clamps
    * sizes to the session's `spark.sql.optimizer.runtime.bloomFilter.`
    * `maxNumItems`/`maxNumBits` (4M items / 64 Mbit by default), which
    * raises the false-positive rate far above `fpp`, so a size over
    * either cap fails here instead, naming the conf to raise. */
  def agg(key: Column, expectedItems: Long, fpp: Double): Column = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    for ((cap, n) <- Seq(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS ->
        expectedItems, SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS -> numBits))
      require(n <= SQLConf.get.getConf(cap), s"a Bloom filter of " +
        s"$expectedItems items at fpp $fpp needs ${cap.key} >= $n")
    GraftShim.columnOf(new BloomFilterAggregate(
      GraftShim.expressionOf(key.cast("long")), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())
  }

  /** `might_contain(<filter>, key)` where `<filter>` is the scalar
    * subquery `build.select(agg(buildKey, expectedItems, fpp))` — the
    * shape of Spark's own runtime filters: it runs once when the probe's
    * query does, the filter deserializes once per task, and plan strings
    * show `scalar-subquery#N`, never the bytes (a binary literal renders
    * as hex in every plan description the SQL status store keeps: ~38M
    * chars per query for a 4.8 MB filter). An empty build side (null
    * filter) matches nothing. */
  def mightContain(build: DataFrame, buildKey: Column, expectedItems: Long,
      fpp: Double, key: Column): Column =
    GraftShim.columnOf(BloomFilterMightContain(GraftShim.expressionOf(
      build.select(agg(buildKey, expectedItems, fpp)).scalar()),
      GraftShim.expressionOf(key.cast("long"))))
}
