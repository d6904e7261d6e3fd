package graft

import org.apache.spark.sql.functions._

import graft.similarity.CosineSearch

/** Dev harness for the ANN quality/cost trade: recall@k of [[CosineSearch
  * .ivfTopK]] against [[CosineSearch.bruteForceTopK]] over a query
  * sample, swept across nProbe — the table that picks the 100 TB search
  * parameters (scaladoc contract on ivfTopK: "measure the trade ...
  * before settling 100 TB parameters"; this is that measurement,
  * committed). Results land in NOTES.md next to the scalecheck rows.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.RecallProbe [k] [nQueries]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = if (args.length > 0) args(0).toInt else 10
    val nQueries = if (args.length > 1) args(1).toInt else 200
    val spark = Harness.session(16)

    val e = Tables.load(spark, sfDir, "embeddings")
    val nVecs = e.count()
    // deterministic query sample + the 16-centroid book the registry uses
    val queries = e.filter(
      graft.operators.Sampling.hashBucket(col("vec_id"), 10000) <
        (nQueries.toDouble / nVecs.toDouble * 10000).ceil.toLong)
    val centroids = e.filter(col("vec_id") < 16)
    val exact = CosineSearch.bruteForceTopK(e, queries, "vec_id",
      "embedding", k).localCheckpoint()
    val nQ = queries.count()
    println(s"corpus=$nVecs queries=$nQ k=$k centroids=16 dir=$sfDir")
    Seq(1, 2, 4, 8).foreach { nProbe =>
      val t0 = System.nanoTime()
      val approx = CosineSearch.ivfTopK(e, centroids, queries,
        "vec_id", "embedding", "vec_id", k, nProbe).localCheckpoint()
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = CosineSearch.recallAtK(exact, approx)
      println(f"""{"nProbe":$nProbe,"recall_at_$k":$recall%.4f,"search_sec":$sec%.3f}""")
      spark.catalog.clearCache()
    }

    // IVF-PQ re-rank (the q_ivfpq_topk layout): recall vs (nProbe,
    // shortlist) — the two knobs of the production composite — for BOTH
    // codebook states: the md5-sample init (the r13 floor) and the
    // PRODUCTION trainExact books the registry ships (engine-exact
    // Lloyd rounds, same iters as q_ivfpq_topk).
    // PQ geometry override for dev sweeps: SPARK_GRAFT_PQ="m,ksub,iters"
    // (defaults to the registry's production configuration)
    val (pqM, pqKsub, pqIters) = sys.env.get("SPARK_GRAFT_PQ") match {
      case Some(s) =>
        val p = s.split(",").map(_.trim.toInt)
        (p(0), p(1), p(2))
      case None => (QueriesExtra.IvfPqM, QueriesExtra.IvfPqKsub,
        QueriesExtra.IvfPqTrainIters)
    }
    val initBooks = graft.similarity.ProductQuantizer.initCodebooks(
      e, "vec_id", "embedding", dims = 64, m = pqM, ksub = pqKsub,
      seed = 13L)
    val trainedBooks = graft.similarity.ProductQuantizer.trainExact(
      e, "vec_id", "embedding", dims = 64, m = pqM, ksub = pqKsub,
      iters = pqIters, seed = 13L)
    for {
      (mode, codebooks) <- Seq("ivfpq_init" -> initBooks,
        "ivfpq_trained" -> trainedBooks)
      nProbe <- Seq(1, 2, 4)
      shortlist <- Seq(k, 2 * k, 4 * k, 8 * k)
    } {
      val t0 = System.nanoTime()
      val approx = graft.similarity.ProductQuantizer.ivfPqRerankTopK(
        e, centroids, codebooks, queries, "vec_id", "embedding",
        "vec_id", dims = 64, m = pqM, nProbe, shortlist, k)
        .localCheckpoint()
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = CosineSearch.recallAtK(exact, approx)
      println(f"""{"mode":"$mode%s","m":$pqM,"ksub":$pqKsub,"iters":$pqIters,"nProbe":$nProbe,"shortlist":$shortlist,"recall_at_$k":$recall%.4f,"search_sec":$sec%.3f}""")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
