package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Fixpoint}
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer training (Sennrich et al., "Neural
  * Machine Translation of Rare Words with Subword Units", public paper)
  * re-expressed for a shuffle engine.
  *
  * The scale insight the reference trainers all use: merges depend only
  * on the WORD-frequency table, not the corpus. So the corpus is
  * touched exactly once ([[wordCounts]] — tokenize + one hash
  * aggregation); every training round then runs on the |vocabulary|-row
  * word table: adjacent-pair counts weighted by word frequency (one
  * explode + aggregation over the small table), the argmax pair becomes
  * the round's merge, and the word table is rewritten with an in-row
  * greedy left-to-right fold. 100 TB of text with a 1M-word vocabulary
  * trains on a 1M-row table after the single corpus pass; superseded
  * word-table generations are released as training advances
  * ([[graft.core.Fixpoint]]), so storage stays one generation deep
  * at any merge count.
  *
  * Determinism: the argmax tiebreak is (count DESC, left ASC, right
  * ASC), so retraining on the same corpus yields the same merge
  * sequence regardless of partitioning.
  *
  * Encoding at corpus scale is a JOIN, not a per-word merge replay: the
  * trained word table already holds each word's final segmentation.
  * Out-of-vocabulary words get true BPE treatment — their DISTINCT set
  * (bounded, never the corpus) replays the merge list per word
  * ([[segmentWords]]), exactly what a runtime tokenizer does. */
object BpeTrainer {

  /** (word, freq) — the single corpus pass: whitespace tokenization
    * (the repo-wide collapseWs convention), empty tokens dropped. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(TextFunctions.collapseWs(col(textCol)), " "))
        .as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Character symbols of a word (the untrained segmentation). */
  private def charSyms(word: org.apache.spark.sql.Column) =
    filter(split(word, ""), s => s =!= "")

  /** Adjacent symbol pairs of the current segmentation, weighted by word
    * frequency: (left, right, pair_count). */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("left"),
            element_at(col("syms"), i + 1).as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Greedy left-to-right application of ONE merge to a symbol array —
    * the standard BPE rewrite ("aaaa" under (a,a) becomes [aa, aa]). */
  private def applyMerge(
      syms: org.apache.spark.sql.Column, left: String, right: String) = {
    val l = lit(left)
    val r = lit(right)
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(x))))
  }

  /** Train `nMerges` merges. Returns (merges, vocabWords):
    *  - merges: (rank, left, right) — the ordered merge table;
    *  - vocabWords: (word, freq, syms) — every training word's final
    *    segmentation, the join-side encoder input.
    * Exact greedy (one merge per driver round-trip) — the
    * oracle-checked default; [[trainBatched]] trades a bounded, fully
    * characterized deviation for ~k× fewer driver trips. */
  def train(docs: DataFrame, textCol: String,
      nMerges: Int): (DataFrame, DataFrame) =
    trainBatched(docs, textCol, nMerges, batch = 1)

  /** Batched training: each driver round-trip collects the top `batch`
    * pairs and accepts the longest PREFIX of mutually NON-INTERACTING
    * ones (no symbol — left, right, or the merged symbol — shared with
    * an earlier acceptance), applying them all in one word-table
    * rewrite. Standard large-scale BPE practice (SentencePiece/
    * BPE-dropout lineage): driver round-trips drop ~batch× while the
    * merge sequence stays exact wherever consecutive top pairs are
    * independent.
    *
    * Fidelity contract, precisely: non-interacting pairs' counts are
    * unchanged by each other's application, so the accepted prefix IS
    * the sequence exact greedy would pick — UNLESS a merge's freshly
    * created pairs (x, ab)/(ab, y) would have outranked a later
    * acceptance in true greedy; the prefix-stop rule (stop at the first
    * interacting candidate rather than skipping it) otherwise degrades
    * the round to exact greedy. `batch = 1` is bit-for-bit [[train]];
    * BpeTrainerSpec pins batched == exact on a non-interacting corpus.
    *
    * Each round's word table is localCheckpoint'd (|vocabulary| rows —
    * materialized, so the corpus pass runs exactly once and lineage
    * stays one round deep) and the superseded generation's blocks are
    * released. Training stops early if no adjacent pair remains. */
  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batch: Int): (DataFrame, DataFrame) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = docs.sparkSession
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    // every round accepts >= 1 merge, so nMerges rounds bound the loop
    val words = Fixpoint.iterate(wordCounts(docs, textCol)
        .select(col("word"), col("freq"), charSyms(col("word")).as("syms")),
        nMerges) { g =>
      val want = math.min(batch, nMerges - rank)
      val top = pairCounts(g.df)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(want).collect()
      if (top.isEmpty) None
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var stop = false
        top.foreach { row =>
          val (l, r) = (row.getString(0), row.getString(1))
          val symbols = Set(l, r, l + r)
          if (!stop && !symbols.exists(used)) {
            accepted += ((l, r)); used ++= symbols
          } else stop = true // prefix rule: never reorder past a conflict
        }
        accepted.foreach { case (l, r) => merges += ((rank, l, r)); rank += 1 }
        // disjoint symbols -> the folds commute; one table rewrite for
        // the whole batch
        val newSyms = accepted.foldLeft(col("syms")) {
          case (c, (l, r)) => applyMerge(c, l, r)
        }
        Some(g.df.select(col("word"), col("freq"), newSyms.as("syms")))
      }
    }((_, _) => rank >= nMerges).last.df
    import spark.implicits._
    (merges.toSeq.toDF("rank", "left", "right"), words)
  }

  /** Reference BPE encode of one word: repeatedly merge the
    * lowest-ranked applicable pair (all its occurrences, left to right)
    * until none applies. Equivalent to replaying the merge list in rank
    * order: merging never creates a new adjacency between two
    * pre-existing symbols, so earlier ranks cannot become applicable
    * again after later ones. */
  private[operators] def segmentOne(
      word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.split("").filter(_.nonEmpty).toVector
    var done = syms.length < 2
    while (!done) {
      val best = syms.indices.dropRight(1)
        .flatMap(i => ranks.get((syms(i), syms(i + 1)))
          .map(r => (r, syms(i), syms(i + 1))))
        .minByOption(_._1)
      best match {
        case None => done = true
        case Some((_, a, b)) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
          done = syms.length < 2
      }
    }
    syms
  }

  /** (word, syms) segmentations for arbitrary words by merge replay —
    * the runtime path for words outside the trained vocabulary. The
    * merge table (driver-bounded: one row per merge) is broadcast and
    * each word runs [[segmentOne]]. Implemented as a typed map over the
    * word set: per-word merge replay is a data-dependent loop no
    * relational expression can express at realistic merge counts, and
    * the intended input is a DISTINCT out-of-vocabulary word set —
    * bounded, never the corpus. */
  def segmentWords(words: DataFrame, merges: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ranks = merges.select("left", "right", "rank")
      .as[(String, String, Int)].collect()
      .map { case (l, r, k) => (l, r) -> k }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    words.select(col("word")).as[String]
      .mapPartitions { it => it.map(w => (w, segmentOne(w, bc.value))) }
      .toDF("word", "syms")
  }

  /** Token stream of a corpus under a trained vocabulary: words join
    * their stored segmentation; the DISTINCT out-of-vocabulary words are
    * segmented by merge replay ([[segmentWords]]) and joined back, so
    * unseen words tokenize exactly as a runtime BPE tokenizer would.
    * Output: (idCol, token) rows in no particular order — aggregate
    * downstream (counts, histograms, packing). */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
      vocabWords: DataFrame, merges: DataFrame,
      scope: CacheScope = CacheScope.session): DataFrame = {
    // the word stream feeds the OOV derivation AND the final join
    val words = scope.retain(docs
      .select(col(idCol),
        explode(split(TextFunctions.collapseWs(col(textCol)), " "))
          .as("word"))
      .filter(col("word") =!= ""))
    val vocab = vocabWords.select(col("word"), col("syms"))
    val oovSegs = segmentWords(
      words.select(col("word")).distinct().join(vocab, Seq("word"),
        "left_anti"),
      merges).withColumnRenamed("syms", "oov_syms")
    words
      .join(vocab, Seq("word"), "left")
      .join(oovSegs, Seq("word"), "left")
      .select(col(idCol),
        explode(coalesce(col("syms"), col("oov_syms"))).as("token"))
  }
}
