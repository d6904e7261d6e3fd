package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Fixpoint}

/** Per-group embedding centroids as relational aggregation — the building
  * block for IVF (re)training: a k-means iteration is `ivfAssign` (assign
  * to nearest centroid, CosineSearch.scala) + `meanCentroids` (recompute),
  * both plain shuffles that scale out.
  *
  * Two outputs:
  *  - `dimSums`: per-(group, dimension) DECIMAL-exact sums + counts.
  *    Decimal addition is associative, so the result is bit-identical
  *    regardless of partitioning or engine (the DuckDB-oracle path; the
  *    mean is derivable as sum/n downstream).
  *  - `meanCentroids`: per-group mean vector re-packed as ARRAY<FLOAT>
  *    (the production path feeding the next `ivfAssign` round; double
  *    summation — fast, not canonical across engines).
  *
  * Shuffle shape: posexplode fans each vector into `dim` rows, then one
  * hash aggregation on (group, pos) with map-side partial sums — rows in
  * flight scale as |vecs| x dim but the aggregate state is only
  * |groups| x dim. No window, no driver-side collection.
  */
object Centroids {

  /** DECIMAL-exact per-dimension sums: (groupCol, pos, dim_sum, n).
    * Elements pass through double -> DECIMAL(20,12) (Spark's cast =
    * BigDecimal.valueOf rounding, the engine-portable canonicalization
    * proven by the cosine queries), summed into DECIMAL(30,12). */
  def dimSums(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vecs.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(
        sum(col("x").cast("double").cast("decimal(20,12)"))
          .cast("decimal(30,12)").as("dim_sum"),
        count(lit(1)).as("n"))

  /** Fixed-point per-dimension sums: (groupCol, pos, dim_sum_fp, n) with
    * `dim_sum_fp = sum(round-free x * 2^shift)` as BIGINT. Scaling a
    * float by a power of two only shifts its exponent, so the scaled
    * value is an exact integer for any |x| >= 2^(23-shift) (~3e-8 at the
    * default shift 48) — no decimal rounding anywhere, hence bit-equal
    * on every engine. The true sum is dim_sum_fp / 2^shift, losslessly.
    * Long accumulation holds ~2^63-48 = 32k of mass per group; use
    * `dimSums` (decimal) when group sums can exceed that. */
  def dimSumsFixedPoint(
      vecs: DataFrame, groupCol: String, vecCol: String,
      shift: Int = 48): DataFrame = {
    val scale = math.pow(2.0, shift)
    vecs.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(
        sum((col("x").cast("double") * lit(scale)).cast("long"))
          .as("dim_sum_fp"),
        count(lit(1)).as("n"))
  }

  /** Per-group mean vectors: (groupCol, centroid ARRAY<FLOAT>). */
  def meanCentroids(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vecs.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("centroid"))

  /** One k-means (Lloyd) iteration by cosine assignment: assign every
    * vector to its nearest centroid, then recompute centroid means.
    * Returns (centroidIdCol, centroid) with the same shape as the input
    * centroids, ready for the next iteration or for `ivfTopK`. */
  def kmeansStep(
      vecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String): DataFrame = {
    val assigned =
      CosineSearch.ivfAssign(vecs, centroids, idCol, vecCol, centroidIdCol)
    meanCentroids(assigned, "centroid_id", vecCol)
      .withColumnRenamed("centroid_id", centroidIdCol)
      .withColumnRenamed("centroid", vecCol)
  }

  /** Deterministic seeding for [[kmeans]]: the `k` vectors with the
    * smallest md5(id ":" seed), labeled 0..k-1 in that hash order — a
    * partitioning-independent pseudo-random sample taken as a bounded
    * top-k (never a full sort of the corpus). Ids must be unique and
    * non-null (the module-wide contract): a null id hashes to a null
    * sort key and duplicate ids produce tied keys, either of which makes
    * the picked sample layout-dependent. */
  def kmeansInit(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int, seed: Long,
      centroidIdCol: String = "centroid_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val picked = vecs.select(col(idCol), col(vecCol))
      .withColumn("__r", md5(concat(col(idCol).cast("string"), lit(s":$seed"))))
      .orderBy(col("__r"), col(idCol)).limit(k)
    // the k survivors fit one partition; the global window is bounded
    picked
      .withColumn(centroidIdCol,
        row_number().over(Window.orderBy(col("__r"), col(idCol)))
          .cast("long") - 1)
      .select(col(centroidIdCol), col(vecCol))
  }

  /** Full Lloyd training by cosine: [[kmeansInit]] then `iters` rounds of
    * [[kmeansStep]]. The corpus projection WITH its norms is computed
    * once and retained (`scope` owns the release) — every round's argmin
    * pass reads the cache instead of re-scanning and re-deriving the
    * decimal self-dots. Each round's centroid table (<= k rows) is
    * localCheckpoint'd so lineage stays one round deep. Clusters that
    * lose every member disappear (standard Lloyd degeneracy), so the
    * result may hold fewer than `k` centroids. Assignment against the
    * mean equals assignment against the normalized mean (cosine is
    * scale-invariant), so this is spherical k-means and [[objective]] is
    * non-decreasing over rounds (spec-pinned). */
  def kmeans(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      seed: Long = 42L, centroidIdCol: String = "centroid_id",
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val normed = scope.retain(
      CosineSearch.withNormSq(vecs.select(col(idCol), col(vecCol)), vecCol))
    Fixpoint.iterate(
        kmeansInit(normed, idCol, vecCol, k, seed, centroidIdCol), iters) {
      g => Some(kmeansStep(normed, g.df, idCol, vecCol, centroidIdCol))
    }((_, _) => false).last.df
  }

  /** Mean cosine of every vector to its assigned centroid — the
    * spherical k-means objective. Exactly one assignment pass: the
    * winning similarity is already in ivfAssign's output, so this is a
    * scalar average over it; NULL (no vectors, or every similarity
    * null) comes back as Double.NaN rather than a driver NPE. Evaluate
    * between rounds to pick `iters` before an expensive full run. */
  def objective(
      vecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String): Double = {
    val row = CosineSearch
      .ivfAssign(vecs, centroids, idCol, vecCol, centroidIdCol)
      .agg(avg(col("c_sim"))).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }
}
