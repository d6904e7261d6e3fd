package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Theta sketch state tables — distinct counting with a full SET
  * ALGEBRA. [[SketchState]]'s HLL answers union-shaped questions only
  * ("distinct users this month"); audience/segment analysis needs
  * intersections and differences ("users who clicked AND purchased",
  * "active last month but not this one"), which require theta sketches:
  * each keeps a uniform sample of item hashes, so ∩ and \ are computable
  * FROM THE STATE with no raw re-scan — the whole point at 100 TB, where
  * the segments live in different partitions, tables, or months.
  *
  * Exactness regime (the HLL/KLL treatment): below its nominal-entries
  * capacity (2^lgK; default 4096) a theta sketch retains every distinct
  * hash and all estimates are EXACT integers — the regime the driver
  * oracle replays with COUNT(DISTINCT …) SQL. Past capacity the
  * published ~1/√(2^lgK) relative error applies and intersections
  * compound it; the spec gates that regime by error bound.
  *
  * All set ops are per-key over state tables: one key-sized shuffle of
  * compact binaries regardless of corpus history. Like [[SketchState]],
  * every step is one of Spark's built-in DataSketches expressions
  * (`theta_sketch_agg`, `theta_union_agg`, `theta_union`,
  * `theta_intersection`, `theta_sketch_estimate`), so Catalyst sees
  * the whole plan; A\B is derived as |A| − |A∩B| (exact in the exact
  * regime, documented estimate beyond). Compact sketches written by the
  * DataSketches library directly read the same way.
  */
object ThetaSketchOps {

  /** Build (or rebuild for one batch) the state: one row per key with a
    * compact theta `tsketch` of distinct `valueCol` strings. */
  def build(df: DataFrame, keyCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol).cast("string"), lgK).as("tsketch"))

  /** Fold batch state into stored state by per-key union. */
  def merge(stored: DataFrame, batch: DataFrame, keyCols: Seq[String],
      lgK: Int = 12): DataFrame =
    stored.unionByName(batch)
      .groupBy(keyCols.map(col): _*)
      .agg(theta_union_agg(col("tsketch"), lgK).as("tsketch"))

  /** Per-key set algebra between two state tables: keys present in BOTH
    * sides (inner semantics — an absent side has no sketch to intersect)
    * with n_a, n_b, n_union, n_intersection, n_a_not_b = n_a − n_a∩b.
    * Each side's rows for a key are unioned first, so a side may hold
    * several rows per key. All columns are doubles; exact integers while
    * both sketches are under capacity. */
  def overlap(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      lgK: Int = 12): DataFrame = {
    val tagged = a.select(keyCols.map(col) :+ col("tsketch") :+
        lit("a").as("__side"): _*)
      .unionByName(b.select(keyCols.map(col) :+ col("tsketch") :+
        lit("b").as("__side"): _*))
    def side(s: String) =
      theta_union_agg(when(col("__side") === s, col("tsketch")), lgK)
    def est(sketch: Column) =
      theta_sketch_estimate(sketch).cast("double")
    tagged.groupBy(keyCols.map(col): _*)
      .agg(side("a").as("__sa"), side("b").as("__sb"),
        count_if(col("__side") === "a").as("__ca"),
        count_if(col("__side") === "b").as("__cb"))
      .filter(col("__ca") > 0 && col("__cb") > 0)
      .select(keyCols.map(col) ++ Seq(
        est(col("__sa")).as("n_a"), est(col("__sb")).as("n_b"),
        est(theta_union(col("__sa"), col("__sb"), lgK)).as("n_union"),
        est(theta_intersection(col("__sa"), col("__sb")))
          .as("n_intersection")): _*)
      .withColumn("n_a_not_b", col("n_a") - col("n_intersection"))
  }
}
