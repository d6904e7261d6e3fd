package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** RangeJoin, BloomPrefilter, RepetitionStats — the scale-technique
  * operators: each must equal its naive relational form exactly. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- RangeJoin

  test("bandJoin equals the naive BETWEEN join, including boundary hits") {
    val points = Seq(0.0, 0.5, 1.0, 1.5, 2.5, 9.99, 10.0, -3.2)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("pid", "v")
    val intervals = Seq(
      (100L, 0.0, 1.0),    // inclusive both ends: catches 0.0, 0.5, 1.0
      (101L, 1.0, 1.0),    // degenerate point interval
      (102L, -4.0, -3.0),  // negative band arithmetic
      (103L, 2.4, 9.99),   // spans many bands
      (104L, 20.0, 30.0))  // matches nothing
      .toDF("iid", "lo", "hi")

    val banded = RangeJoin.bandJoin(points, intervals, "v", "lo", "hi", 1.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = points.join(intervals, $"v".between($"lo", $"hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(banded === naive)
    assert(banded.contains((1L, 100L)) && banded.contains((2L, 101L)))
    assert(!naive.exists(_._2 == 104L))
  }

  test("bandJoin emits each matching pair exactly once (no band dupes)") {
    // interval spanning 5 bands, point interior to it
    val points = Seq((1L, 2.5)).toDF("pid", "v")
    val intervals = Seq((9L, 0.0, 5.0)).toDF("iid", "lo", "hi")
    val out = RangeJoin.bandJoin(points, intervals, "v", "lo", "hi", 1.0)
    assert(out.count() === 1)
  }

  test("toleranceJoin matches |v - center| <= tol") {
    val points = Seq((1L, 10.0), (2L, 10.6), (3L, 11.2)).toDF("pid", "v")
    val centers = Seq((7L, 10.5)).toDF("cid", "c")
    val got = RangeJoin.toleranceJoin(points, centers, "v", "c", 0.5, 1.0)
      .select("pid").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
  }

  test("overlapJoin equals the naive interval-intersection join") {
    // deterministic pseudo-random intervals; several span many bands
    val rnd = new scala.util.Random(7)
    val left = (1 to 120).map { i =>
      val lo = rnd.nextInt(200).toDouble; (i.toLong, lo, lo + rnd.nextInt(30))
    }.toDF("lid", "llo", "lhi")
    val right = (1 to 120).map { i =>
      val lo = rnd.nextInt(200).toDouble; (i.toLong, lo, lo + rnd.nextInt(30))
    }.toDF("rid", "rlo", "rhi")

    val banded = RangeJoin
      .overlapJoin(left, right, "llo", "lhi", "rlo", "rhi", width = 10.0)
      .select("lid", "rid").as[(Long, Long)].collect()
    val naive = left.join(right, $"llo" <= $"rhi" && $"rlo" <= $"lhi")
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(banded.length === banded.toSet.size, "duplicate pair emitted")
    assert(banded.toSet === naive.toSet)
  }

  test("overlapJoin with equi-keys restricts pairs to matching keys") {
    val left = Seq((1L, "a", 0.0, 10.0), (2L, "b", 0.0, 10.0))
      .toDF("lid", "k", "llo", "lhi")
    val right = Seq((7L, "a", 5.0, 15.0)).toDF("rid", "k", "rlo", "rhi")
    val got = RangeJoin.overlapJoin(
      left, right, "llo", "lhi", "rlo", "rhi", 8.0, keys = Seq("k"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 7L)))
  }

  // ------------------------------------------------------------ Quantiles

  test("exactQuantiles picks the rank-ceil(p*n) value with tiebreaks") {
    // values 1..100 in one group: p=0.25 -> rank 25 -> 25.0, etc.
    val df = (1 to 100).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    val out = Quantiles
      .exactQuantiles(df, "v", "id", Seq("grp"), Seq(0.25, 0.5, 1.0))
      .orderBy("p").select("p", "q").as[(Double, Double)].collect()
    assert(out.toSeq === Seq((0.25, 25.0), (0.5, 50.0), (1.0, 100.0)))
  }

  test("exactQuantiles: all-ties group still returns one row per p") {
    val df = Seq.fill(10)(("g", 5.0)).zipWithIndex
      .map { case ((g, v), i) => (g, v, i.toLong) }.toDF("grp", "v", "id")
    val out = Quantiles
      .exactQuantiles(df, "v", "id", Seq("grp"), Seq(0.5, 0.9))
      .select("q").as[Double].collect()
    assert(out.toSeq === Seq(5.0, 5.0))
  }

  test("interpolatedQuantiles: type-7 interpolation on known data") {
    // values 1..5: h(p) = 4p+1 -> p=0.5 -> h=3 -> 3.0 (exact rank);
    // p=0.125 -> h=1.5 -> 1 + 0.5*(2-1) = 1.5; p=1 -> 5.0; p=0 -> 1.0
    val df = (1 to 5).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    val out = Quantiles.interpolatedQuantiles(df, "v", "id", Seq("grp"),
      Seq(0.0, 0.125, 0.5, 1.0))
      .orderBy("p").select("p", "q").as[(Double, Double)].collect()
    assert(out.toSeq === Seq((0.0, 1.0), (0.125, 1.5), (0.5, 3.0),
      (1.0, 5.0)))
  }

  test("interpolatedQuantiles: nulls excluded, groups independent, " +
      "single-row group returns its value") {
    val df = Seq(("a", Some(10.0), 1L), ("a", Some(20.0), 2L),
      ("a", None, 3L), ("b", Some(7.0), 4L)).toDF("grp", "v", "id")
    val out = Quantiles.interpolatedQuantiles(df, "v", "id", Seq("grp"),
      Seq(0.5))
      .select("grp", "q").as[(String, Double)].collect().toMap
    assert(out("a") == 15.0) // h = 1.5 over {10, 20}
    assert(out("b") == 7.0)
  }

  test("approxQuantiles tracks the exact quantiles within sketch error") {
    val df = (1 to 10000).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    val approx = Quantiles
      .approxQuantiles(df, "v", Seq("grp"), Seq(0.25, 0.5, 0.95))
      .select("qs").as[Seq[Double]].head()
    val exact = Seq(2500.0, 5000.0, 9500.0)
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.01, s"approx $a vs exact $e")
    }
  }

  // ------------------------------------------------------- BloomPrefilter

  test("bloom prefilter passes every true key (no false negatives)") {
    val probe = (1L to 2000L).toDF("k")
    val build = (1L to 2000L by 3).toDF("bk")
    val pre = BloomPrefilter.prefilter(probe, "k", build, "bk", 4096)
    val preKeys = pre.as[Long].collect().toSet
    val trueKeys = (1L to 2000L by 3).toSet
    assert(trueKeys.subsetOf(preKeys), "bloom dropped a real key")
  }

  test("bloom semiJoin equals the exact semi-join") {
    val probe = (1L to 5000L).map(i => (i, i % 7)).toDF("k", "payload")
    val build = (1L to 5000L by 11).toDF("bk")
    val got = BloomPrefilter.semiJoin(probe, "k", build, "bk", 4096)
      .select("k").as[Long].collect().toSet
    assert(got === (1L to 5000L by 11).toSet)
  }

  test("an empty build side gives an empty prefilter and semiJoin") {
    val probe = (1L to 100L).toDF("k")
    val build = Seq.empty[Long].toDF("bk")
    assert(BloomPrefilter.prefilter(probe, "k", build, "bk", 64).count() === 0L)
    assert(BloomPrefilter.semiJoin(probe, "k", build, "bk", 64).count() === 0L)
  }

  // -------------------------------------------------------------- Packing

  test("streamPacking chunks each shard's token stream at the budget") {
    // single shard (shards=1): offsets are a pure running sum in id order
    val docs = Seq((1L, 100L), (2L, 50L), (3L, 80L), (4L, 40L))
      .toDF("id", "toks")
    val out = Packing.streamPacking(docs, "id", "toks", 1, 128L)
      .orderBy("id")
      .select("id", "start_offset", "pack_id", "offset_in_pack")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 0L, 0L, 0L)))
    assert(out(1) === ((2L, 100L, 0L, 100L)))  // starts in pack 0, straddles
    assert(out(2) === ((3L, 150L, 1L, 22L)))
    assert(out(3) === ((4L, 230L, 1L, 102L)))
  }

  test("streamPacking is partitioning-independent (same packs any layout)") {
    val docs = (1L to 200L).map(i => (i, (i % 37) + 1)).toDF("id", "toks")
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.streamPacking(df, "id", "toks", 4, 64L)
        .select("id", "shard", "pack_id", "offset_in_pack")
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(run(docs.repartition(7)) === run(docs.coalesce(1)))
  }

  // ---------------------------------------------------------- Boilerplate

  test("boilerplate stats: corpus-common shingles counted per doc") {
    // "x y z" appears in docs 1,2,3 (df=3 > 2 -> common); everything
    // else is unique to its doc
    val docs = Seq(
      (1L, "x y z a b c"),     // 4 shingles: xyz yza zab abc; 1 common
      (2L, "x y z q r s"),
      (3L, "p q x y z t"),
      (4L, "unrelated words only here")).toDF("id", "txt")
    val out = Boilerplate.stats(docs, "id", "txt", 3, 2)
      .orderBy("id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 4L, 1L, 250000L)))
    assert(out(1) === ((2L, 4L, 1L, 250000L)))
    assert(out(2) === ((3L, 4L, 1L, 250000L)))
    assert(out(3) === ((4L, 2L, 0L, 0L)))
  }

  test("contamination counts train shingles that leak from the eval set") {
    val train = Seq(
      (1L, "x y z a b c"),   // "x y z" leaks (1 of 4 shingles)
      (2L, "clean words all the way through")).toDF("id", "txt")
    val eval_ = Seq((100L, "x y z unrelated tail")).toDF("id", "txt")
    val out = Boilerplate.contamination(train, eval_, "id", "txt", 3)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 4L, 1L, 250000L)))
    assert(out(1)._3 === 0L)
  }

  // ------------------------------------------------------ RepetitionStats

  test("repetition stats: exact counts on a known document") {
    // "a b a b a" -> 5 words, 2 distinct, top word "a" x3,
    // bigrams: "a b","b a","a b","b a" -> top bigram x2
    val docs = Seq((1L, "a b a b a"), (2L, "x y z w")).toDF("id", "txt")
    val out = RepetitionStats.stats(docs, "id", "txt")
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 5L, 2L, 3L, 2L, 600000L)))
    assert(out(1) === ((2L, 4L, 4L, 1L, 1L, 250000L)))
  }

  test("repetition stats: whitespace-collapse and case normalization") {
    val docs = Seq((1L, "  The   THE the  ")).toDF("id", "txt")
    val out = RepetitionStats.stats(docs, "id", "txt")
      .select("n_words", "n_distinct", "top_word_cnt").as[(Long, Long, Long)]
      .head()
    assert(out === ((3L, 1L, 3L)))
  }

  test("repetition stats: single-word and empty docs are excluded") {
    val docs = Seq((1L, "word"), (2L, ""), (3L, "a b")).toDF("id", "txt")
    val ids = RepetitionStats.stats(docs, "id", "txt")
      .select("id").as[Long].collect().toSet
    assert(ids === Set(3L)) // 1 has no bigram, 2 has no token
  }

  // ---------------------------------------------------------- saltedJoin

  test("saltedJoin equals the plain join for inner and left") {
    val fact = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "orphan"))
      .toDF("k", "fv")
    val dim = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "dv")
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val inner = Skew.saltedJoin(fact, dim, Seq("k"),
      saltSeed = col("k") + length(col("fv")), buckets = 4)
    assert(bag(inner.select("k", "fv", "dv")) ==
      bag(fact.join(dim, Seq("k")).select("k", "fv", "dv")))
    // left join: the orphan fact row survives with a null dim side
    val left = Skew.saltedJoin(fact, dim, Seq("k"),
      saltSeed = col("k"), buckets = 4, joinType = "left")
    assert(bag(left.select("k", "fv", "dv")) ==
      bag(fact.join(dim, Seq("k"), "left").select("k", "fv", "dv")))
    // unsupported join types are refused, not silently wrong
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, Seq("k"), col("k"), 4, joinType = "full")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, Seq("k"), col("k"), 0)
    }
    // a NULL salt seed must not lose rows (null falls back to bucket 0)
    val nullSeed = when(col("fv") === "b", lit(null)).otherwise(col("k"))
    assert(bag(Skew.saltedJoin(fact, dim, Seq("k"), nullSeed, 4)
        .select("k", "fv", "dv")) ==
      bag(fact.join(dim, Seq("k")).select("k", "fv", "dv")))
  }

  test("saltedJoin spreads a hot key across salt buckets") {
    val hot = (0 until 400).map(i => (1L, i)).toDF("k", "i")
    val dim = Seq((1L, "x")).toDF("k", "dv")
    val salted = hot.withColumn("__salt",
      Skew.salt(col("i"), 8).cast("int"))
    // the fact side's shuffle key (k, salt) takes 8 distinct values for
    // the single hot key - the property that divides reducer load
    assert(salted.select("k", "__salt").distinct().count() == 8)
    assert(Skew.saltedJoin(hot, dim, Seq("k"), col("i"), 8).count() == 400)
  }
}
