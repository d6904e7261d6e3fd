package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Bloom

/** Bloom-filter semi-join prefilter: reduce a big probe side by a compact
  * membership sketch of the build side's keys *before* the exact join.
  *
  * At scale this is the pattern behind runtime row-group filtering: when
  * the build side's key set is too large to broadcast as an exact hash
  * relation but its Bloom filter (under 5 MB for 4M keys at 1% fpp;
  * larger ones need the cap raised, see [[Bloom.agg]]) is not, shipping the
  * filter to every probe task cuts the probe-side shuffle volume by
  * roughly the join selectivity. False positives only cost wasted
  * shuffle rows; false negatives are impossible, so `prefilter(...)`
  * followed by the exact join returns exactly the rows the plain join
  * would.
  *
  * The sketch is aggregated distributively (partial filters merged by
  * OR), and only the final few-MB bitmap reaches the driver — bounded,
  * like a scalar watermark probe.
  */
object BloomPrefilter {

  /** Probe-side rows that *may* have a build-side match (superset of the
    * exact semi-join; follow with the exact join for exact results). An
    * empty build side passes nothing. */
  def prefilter(
      probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    probe.filter(Bloom.mightContain(build, col(buildKey), expectedItems,
      fpp, col(probeKey)))
  }

  /** Exact semi-join with the Bloom prefilter applied first: the
    * prefiltered probe side then shuffles (or broadcasts) only the
    * plausible rows into the exact LEFT SEMI join. */
  def semiJoin(
      probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val pre = prefilter(probe, probeKey, build, buildKey, expectedItems, fpp)
    pre.join(build.select(col(buildKey)),
      pre(probeKey) === col(buildKey), "left_semi")
  }
}
