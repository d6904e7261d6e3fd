package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Fixpoint}
import graft.functions.FloatDotExpr

/** Product quantization (PQ) with asymmetric-distance (ADC) search — the
  * memory-compressed ANN scale path (Jegou et al., "Product Quantization
  * for Nearest Neighbor Search", public paper): each vector is split
  * into `m` subvectors, each subvector encoded as the id of its nearest
  * subspace centroid (L2), so a `dims`-float vector compresses to `m`
  * small codes. A query is NOT quantized (the "asymmetric" part): its
  * exact dot product with every subspace centroid is tabulated once, and
  * each candidate scores as `m` table lookups instead of `dims`
  * multiplies.
  *
  * Spark shapes, corpus-pass by corpus-pass:
  *  - training: ONE pass per Lloyd round for ALL subspaces — the
  *    codebook set collapses to one broadcast array row (the ivfAssign
  *    pattern), every row encodes all `m` subspaces in-row, and the mean
  *    update is a (subspace, code, pos) hash aggregation with map-side
  *    combine. Per-round codebooks (m x ksub rows) localCheckpoint so
  *    lineage stays one round deep.
  *  - encode: the same in-row argmin, zero shuffle.
  *  - search: candidates score via per-row map lookups against the
  *    broadcast query LUTs; ranking is a per-query top-k window (Spark
  *    plans it as Sort + WindowGroupLimit rank-limit pushdown).
  *
  * Scores are float_dot doubles (fast path, deterministic element
  * order) — PQ is an approximation by construction, so the decimal
  * oracle-parity machinery has nothing exact to pin; verification is
  * sequential-model equality + recall floors (spec).
  *
  * Codebook schema: (subspace INT, cid INT, centroid ARRAY<FLOAT>) with
  * `dims % m == 0` and subvector width `dims / m`. Ids must be unique
  * and non-null (module contract). */
object ProductQuantizer {

  private def subvec(vec: Column, s: Column, w: Int): Column =
    slice(vec, s * w + 1, lit(w))

  /** Codebooks collapsed to one broadcast row: cb = array of
    * (subspace, cid, c_vec, c_norm) structs. */
  private def cbArr(codebooks: DataFrame): DataFrame =
    broadcast(codebooks.agg(collect_list(struct(
      col("subspace"), col("cid"), col("centroid").as("c_vec"),
      FloatDotExpr.float_dot(col("centroid"), col("centroid")).as("c_norm")))
      .as("cb")))

  /** Per-centroid L2 surrogate `||c||^2 - 2 <x_s, c>` (the `||x_s||^2`
    * term is constant within a per-subspace argmin); a null-poisoned dot
    * (null vector element) maps to +Infinity so it can never win. */
  private def l2Surrogate(vec: Column, s: Column, w: Int, e: Column): Column =
    coalesce(
      e.getField("c_norm") - lit(2.0) *
        FloatDotExpr.float_dot(subvec(vec, s, w), e.getField("c_vec")),
      lit(Double.PositiveInfinity))

  /** Per-row code for subspace `s`: the array_min argmin over that
    * subspace's centroids (the ivfAssign pattern — each score computed
    * once, cid-ascending tiebreak from the struct ordering; null only
    * when the subspace has no centroids at all). */
  private def codeFor(vec: Column, s: Column, w: Int): Column =
    array_min(transform(
      filter(col("cb"), e => e.getField("subspace") === s),
      e => struct(l2Surrogate(vec, s, w, e).as("score"),
        e.getField("cid").as("cid")))).getField("cid")

  /** (id, codes ARRAY<INT> of length m) — one in-row pass, no shuffle. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame =
    encodeWith(vecs, idCol, vecCol, codebooks, dims, m)
      .select(col(idCol), col("codes"))

  /** Engine-exact encode: the same per-subspace argmin with the DECIMAL
    * dot fold instead of the double kernel, so the surrogate scores —
    * and therefore the chosen codes — are bit-identical on any engine
    * (the dotDecimal-vs-float_dot split, see [[CosineSearch]]): the
    * oracle-parity path behind `q_pq_encode`. Slower than [[encode]];
    * use it to certify a deployment, not in a float training loop. */
  def encodeExact(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame =
    encodeExactWith(vecs, idCol, vecCol, codebooks, dims, m)
      .select(col(idCol), col("codes"))

  private def encodeExactWith(vecs: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    val cbDec = broadcast(codebooks.agg(collect_list(struct(
      col("subspace"), col("cid"), col("centroid").as("c_vec"),
      CosineSearch.dotDecimal(col("centroid"), col("centroid"))
        .as("c_norm"))).as("cb")))
    def codeDec(s: Column): Column =
      array_min(transform(
        filter(col("cb"), e => e.getField("subspace") === s),
        e => struct(
          (e.getField("c_norm") - lit(2) * CosineSearch.dotDecimal(
            subvec(col(vecCol), s, w), e.getField("c_vec"))).as("score"),
          e.getField("cid").as("cid")))).getField("cid")
    vecs.crossJoin(cbDec)
      .select(col(idCol), col(vecCol),
        transform(sequence(lit(0), lit(m - 1)), s => codeDec(s)).as("codes"))
  }

  private def encodeWith(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    vecs.crossJoin(cbArr(codebooks))
      .select(col(idCol), col(vecCol),
        transform(sequence(lit(0), lit(m - 1)),
          s => codeFor(col(vecCol), s, w)).as("codes"))
  }

  /** Deterministic init: [[Centroids.kmeansInit]]'s md5 top-k sample
    * (bounded, layout-independent, same id-uniqueness contract), sliced
    * into every subspace. */
  def initCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, seed: Long): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    Centroids.kmeansInit(vecs, idCol, vecCol, ksub, seed, "cid")
      .select(col("cid").cast("int").as("cid"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => subvec(col(vecCol), s, w))).as(Seq("subspace", "centroid")))
      .select(col("subspace").cast("int"), col("cid"), col("centroid"))
  }

  /** One Lloyd round for ALL subspaces in one corpus pass: in-row encode,
    * then per-(subspace, code, dimension) means repacked as float
    * centroids. Codes that lose every member disappear (standard Lloyd
    * degeneracy). */
  def pqStep(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    val w = dims / m
    encodeWith(vecs, idCol, vecCol, codebooks, dims, m)
      .select(col(vecCol), posexplode(col("codes")).as(Seq("subspace", "cid")))
      .select(col("subspace"), col("cid"),
        posexplode(subvec(col(vecCol), col("subspace"), w)).as(Seq("pos", "x")))
      .groupBy(col("subspace"), col("cid"), col("pos"))
      .agg(avg(col("x").cast("double")).as("mval"))
      .groupBy(col("subspace"), col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mval")))),
        p => p.getField("mval").cast("float")).as("centroid"))
      .select(col("subspace").cast("int"), col("cid"), col("centroid"))
  }

  /** Full training: [[initCodebooks]] + `iters` rounds of [[pqStep]].
    * The corpus projection is retained once (`scope` owns release). */
  def train(vecs: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int, seed: Long = 42L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val v = scope.retain(vecs.select(col(idCol), col(vecCol)))
    Fixpoint.iterate(
        initCodebooks(v, idCol, vecCol, dims, m, ksub, seed), iters) {
      g => Some(pqStep(v, idCol, vecCol, g.df, dims, m))
    }((_, _) => false).last.df
  }

  /** One ENGINE-EXACT Lloyd round: [[encodeExact]] assignment (decimal
    * argmin — bit-stable), then the per-(subspace, code, dimension)
    * mean quantized through the micro waypoint
    * `trunc(1e6 · Σ canon(x) ÷ n)`, where canon is the double →
    * DECIMAL(20,12) canonicalization every oracle query uses and the
    * trunc is the remainder-subtract exact integral division
    * (toward-zero on both engines for signed sums). The quantized mean
    * re-enters float space as `CAST(micro/1e6 AS FLOAT)` — a two-step
    * IEEE rounding that is deterministic given the integer, so the NEXT
    * round's decimal dots see bit-identical centroids on any engine.
    * Same m × ksub output shape as [[pqStep]]; codes that lose every
    * member disappear (standard Lloyd degeneracy).
    *
    * Shuffle shape: the corpus pass is the in-row encode crossJoin, the
    * update is one (subspace, code, pos) hash aggregation with map-side
    * combine — identical cost class to [[pqStep]]. Mass contract: the
    * per-group canonical sum must fit DECIMAL(30,0) micro-units, i.e.
    * Σ|x|·1e12 < 1e30 per (subspace, code, pos) — beyond astronomically
    * safe; train on a sample when the corpus itself is 100 TB (standard
    * PQ practice: codebooks converge on ~1e6 vectors). */
  def pqStepExact(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    val micro6 = lit(1000000L).cast("decimal(7,0)")
    // per-element exact scaled integer: canon(x)·1e12 as a long — two
    // ×1e6 decimal multiplies keep every intermediate precision ≤ 38
    // (a single ×1e12 literal would overflow Spark's 38-digit cap and
    // silently round)
    val x12 = ((col("x").cast("double").cast("decimal(20,12)") * micro6)
      * micro6).cast("long").cast("decimal(20,0)")
    val sums = encodeExactWith(vecs, idCol, vecCol, codebooks, dims, m)
      .select(col(vecCol), posexplode(col("codes")).as(Seq("subspace", "cid")))
      .select(col("subspace"), col("cid"),
        posexplode(subvec(col(vecCol), col("subspace"), w)).as(Seq("pos", "x")))
      .groupBy(col("subspace"), col("cid"), col("pos"))
      .agg(sum(x12).as("num12"), count(lit(1)).as("n"))
    // trunc(num12 / (n·1e6)) = trunc(1e6 · mean): exact integral
    // division (quotient is exact, so the decimal division's rounding
    // has nothing to round)
    val den = col("n").cast("decimal(19,0)") * micro6
    val micro = ((col("num12") - col("num12") % den) / den)
      .cast("decimal(38,0)").cast("long")
    sums
      .select(col("subspace"), col("cid"), col("pos"),
        (micro.cast("double") / lit(1.0e6)).cast("float").as("cval"))
      .groupBy(col("subspace"), col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cval")))),
        p => p.getField("cval")).as("centroid"))
      .select(col("subspace").cast("int"), col("cid"), col("centroid"))
  }

  /** Engine-exact training: [[initCodebooks]] + `iters` rounds of
    * [[pqStepExact]] — the PRODUCTION codebook path. Every step is
    * replayable in plain SQL (the `q_ivfpq_topk` oracle unrolls it),
    * so a trained deployment is certifiable bit for bit, and recall is
    * the trained figure rather than the md5-init floor (RecallProbe
    * prints both). */
  def trainExact(vecs: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int, seed: Long = 42L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val v = scope.retain(vecs.select(col(idCol), col(vecCol)))
    Fixpoint.iterate(
        initCodebooks(v, idCol, vecCol, dims, m, ksub, seed), iters) {
      g => Some(pqStepExact(v, idCol, vecCol, g.df, dims, m))
    }((_, _) => false).last.df
  }

  /** Mean L2 quantization surrogate over the corpus:
    * avg(sum_s (||c_s||^2 - 2 <x_s, c_s>)) for each row's best codes —
    * the Lloyd objective minus the constant avg ||x||^2 term, so it is
    * non-increasing over [[train]] rounds (spec-pinned, float-repack
    * tolerance). NaN on an empty corpus. */
  def inertiaSurrogate(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dims: Int, m: Int): Double = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    val best = aggregate(
      sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s) => acc + array_min(transform(
        filter(col("cb"), e => e.getField("subspace") === s),
        e => l2Surrogate(col(vecCol), s, w, e))))
    val row = vecs.crossJoin(cbArr(codebooks))
      .select(best.as("sc")).agg(avg(col("sc"))).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** The per-query lookup table: a map from the (subspace, cid) struct
    * key to the exact dot of the query's subvector with that centroid.
    * Struct keys make a stale or mistyped `ksub` impossible by
    * construction — there is no packed-integer stride to collide. */
  private def lutCol(vec: Column, w: Int): Column =
    map_from_arrays(
      transform(col("cb"), e => struct(e.getField("subspace").as("s"),
        e.getField("cid").as("c"))),
      transform(col("cb"), e => FloatDotExpr.float_dot(
        subvec(vec, e.getField("subspace"), w), e.getField("c_vec"))))

  /** Sum of the `m` LUT lookups selected by the row's codes. */
  private def adcSum(m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("lut"),
        struct(s.cast("int").as("s"),
          element_at(col("codes"), s + 1).as("c"))))

  /** Per-query rank-k by score desc, nn_id tiebreak (Spark plans the
    * rank filter as Sort + WindowGroupLimit rank-limit pushdown). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("adc_score"))
  }

  /** ADC scores of every (query, candidate) pair: the query's exact
    * subspace-centroid dots are tabulated once per query (the LUT map,
    * broadcast), and each encoded candidate scores as `m` lookups.
    * Output: (query_id, nn_id, adc_score ~ <q, reconstruction(x)>). */
  def adcScores(encoded: DataFrame, codebooks: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    val luts = queries.crossJoin(cbArr(codebooks))
      .select(col(idCol).as("query_id"), lutCol(col(vecCol), w).as("lut"))
    encoded.select(col(idCol).as("nn_id"), col("codes"))
      .crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), adcSum(m).as("adc_score"))
  }

  /** Approximate dot-product top-k per query over the encoded corpus —
    * same output shape as [[CosineSearch.bruteForceTopK]] (rank by score
    * desc, id tiebreak); measure the quantization trade with
    * [[CosineSearch.recallAtK]]. */
  def adcTopK(encoded: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dims: Int, m: Int, k: Int): DataFrame =
    rankTopK(
      adcScores(encoded, codebooks, queries, idCol, vecCol, dims, m), k)

  /** IVF-PQ top-k — the canonical billion-scale ANN layout: the corpus
    * is bucketed by coarse centroids ([[CosineSearch.ivfAssign]], one
    * map-side pass) and queries probe only their own bucket, where
    * candidates score by ADC lookups. The candidate space shrinks by
    * ~|buckets| AND each candidate costs `m` lookups instead of `dims`
    * multiplies — the two standard ANN levers composed. Queries must be
    * part of the corpus (probed through their own assignment, as in
    * ivfTopK's nProbe = 1 fast path); recall trades against both
    * bucketing and quantization — measure with
    * [[CosineSearch.recallAtK]] before settling parameters. */
  def ivfAdcTopK(vecs: DataFrame, coarseCentroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroidIdCol: String, dims: Int, m: Int,
      k: Int, scope: CacheScope = CacheScope.session): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    val w = dims / m
    val cb = cbArr(codebooks)
    // one retained pass carrying BOTH indexes: coarse bucket + PQ codes
    val assigned = scope.retain(
      CosineSearch.ivfAssign(vecs, coarseCentroids, idCol, vecCol,
          centroidIdCol)
        .crossJoin(cb)
        .select(col(idCol), col("centroid_id"),
          transform(sequence(lit(0), lit(m - 1)),
            s => codeFor(col(vecCol), s, w)).as("codes")))
    val luts = queries.select(col(idCol).as("query_id"), col(vecCol))
      .join(assigned.select(col(idCol).as("query_id"), col("centroid_id")),
        Seq("query_id"))
      .crossJoin(cb)
      .select(col("query_id"), col("centroid_id"),
        lutCol(col(vecCol), w).as("lut"))
    val cand = assigned.select(col("centroid_id"), col(idCol).as("nn_id"),
      col("codes"))
    val scored = broadcast(luts).join(cand, Seq("centroid_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), adcSum(m).as("adc_score"))
    rankTopK(scored, k)
  }

  /** IVF probe → PQ-ADC shortlist → EXACT re-rank: the standard
    * 100 TB ANN serving layout with all three levers composed. Each
    * query probes its `nProbe` nearest coarse buckets
    * ([[CosineSearch.ivfAssign]] multi-assignment), candidates there
    * are cut to `shortlist` per query by asymmetric-distance lookups,
    * and only the shortlist pays the exact `dims`-wide scoring — per
    * query the exact work drops from |corpus| to `shortlist` vectors
    * while the ADC pass costs m lookups per candidate.
    *
    * Unlike [[ivfAdcTopK]] (float LUT, measurement-only), the LUT here
    * is the DECIMAL-exact subspace dot ([[CosineSearch.dotDecimal]])
    * and codes come from [[encodeExact]], so the ADC ordering — and
    * with it the shortlist cut — is bit-identical across engines and
    * the WHOLE composite is oracle-comparable. Queries need not be
    * part of the corpus. Output: (query_id, rank, nn_id, cos_sim),
    * rank ≤ k by exact cosine desc, nn_id tiebreak. */
  def ivfPqRerankTopK(vecs: DataFrame, coarseCentroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroidIdCol: String, dims: Int, m: Int,
      nProbe: Int, shortlist: Int, k: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims ($dims) must divide by m ($m)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val w = dims / m
    // ONE retained norm-augmented corpus pass feeds the coarse
    // assignment, the PQ encode, AND the exact re-rank side — without
    // it the plan scans the corpus three times (ivfAssign skips its
    // own withNormSq when the column is already present)
    val vbase = scope.retain(CosineSearch.withNormSq(vecs, vecCol))
    // the bounded side-frames retain too: the coarse book feeds BOTH
    // assignment passes and the codebook feeds encode AND the LUTs —
    // without the cache each consumer re-runs the upstream derivation
    // (for trained/sampled books, a corpus scan each)
    val coarse = scope.retain(coarseCentroids)
    val cbs = scope.retain(codebooks)
    // corpus index: coarse bucket + exact PQ codes
    val indexed = CosineSearch.ivfAssign(vbase, coarse, idCol,
        vecCol, centroidIdCol)
      .select(col(idCol), col("centroid_id"))
      .join(encodeExact(vbase, idCol, vecCol, cbs, dims, m),
        Seq(idCol))
      .select(col("centroid_id"), col(idCol).as("nn_id"), col("codes"))
    // query probes: nProbe nearest coarse buckets, one row per probe —
    // the retained query pass likewise serves probes, LUTs, and re-rank
    val qbase = scope.retain(CosineSearch.withNormSq(
      queries.select(col(idCol).as("query_id"), col(vecCol)), vecCol))
    val probes = CosineSearch.ivfAssign(qbase, coarse,
      "query_id", vecCol, centroidIdCol, nAssign = nProbe)
    // decimal LUT per (query, probe): subspace-centroid dots, exact
    val cbDec = broadcast(cbs.agg(collect_list(struct(
      col("subspace"), col("cid"), col("centroid").as("c_vec"))).as("cb")))
    val luts = probes.crossJoin(cbDec)
      .select(col("query_id"), col("centroid_id"),
        map_from_arrays(
          transform(col("cb"), e => struct(
            e.getField("subspace").as("s"), e.getField("cid").as("c"))),
          transform(col("cb"), e => CosineSearch.dotDecimal(
            subvec(col(vecCol), e.getField("subspace"), w),
            e.getField("c_vec")))).as("lut"))
    // exact-decimal ADC fold (a corpus vector lives in exactly one
    // bucket, so multi-probe cannot duplicate a (query, nn) candidate).
    // Scale discipline: a naive decimal fold widens precision each add
    // until Spark TRIMS the scale (38,12)+(30,12) → (38,11), silently
    // rounding the 12th digit and breaking oracle ordering parity — so
    // each entry narrows to (20,12) (subspace dots are O(1); 8 integer
    // digits is orders of magnitude of headroom) and each partial sum
    // re-casts to (25,12): every step preserves scale 12 exactly, so
    // the fold equals DuckDB's SUM(DECIMAL) bit for bit.
    val adc = aggregate(sequence(lit(0), lit(m - 1)),
      lit(0).cast("decimal(25,12)"),
      (acc, s) => (acc + element_at(col("lut"),
        struct(s.cast("int").as("s"),
          element_at(col("codes"), s + 1).as("c")))
        .cast("decimal(20,12)")).cast("decimal(25,12)"))
    val wSh = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("nn_id"))
    val short = broadcast(luts).join(indexed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), adc.as("__adc"))
      .withColumn("__r", row_number().over(wSh))
      .filter(col("__r") <= shortlist)
      .select(col("query_id"), col("nn_id"))
    // exact re-rank: only the shortlist pays the dims-wide scoring
    val vn = vbase.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      col("norm_sq").as("nn_norm_sq"))
    val qn = qbase.select(col("query_id"), col(vecCol).as("q_vec"),
      col("norm_sq").as("q_norm_sq"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    short.join(broadcast(qn), Seq("query_id")).join(vn, Seq("nn_id"))
      .withColumn("cos_sim",
        CosineSearch.cosine(CosineSearch.dotDecimal(
          col("q_vec"), col("nn_vec")),
          col("q_norm_sq"), col("nn_norm_sq")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("cos_sim"))
  }
}
