package graft.operators

import graft.SparkSpec

class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(pairs: (String, String)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  private def run(edges: org.apache.spark.sql.DataFrame,
      seeds: Seq[String], hops: Int = 6) =
    Betweenness.sampled(edges, "src", "dst", seeds.toDF("s"), "s", hops)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("path graph from one end: textbook Brandes dependencies") {
    // a-b-c-d-e from seed a: delta(b)=3, delta(c)=2, delta(d)=1,
    // delta(e)=0 (excluded by the positive filter)
    val out = run(undirected(("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "e")), Seq("a"))
    assert(out === Map("b" -> 3000000L, "c" -> 2000000L,
      "d" -> 1000000L))
  }

  test("diamond splits dependency across equal shortest paths") {
    // a-b-d and a-c-d: sigma(d)=2, so b and c each carry 1/2
    val out = run(undirected(("a", "b"), ("a", "c"), ("b", "d"),
      ("c", "d")), Seq("a"))
    assert(out === Map("b" -> 500000L, "c" -> 500000L))
  }

  test("multiple seeds accumulate") {
    // a-b-c from both ends: b carries 1 from each seed
    val out = run(undirected(("a", "b"), ("b", "c")), Seq("a", "c"))
    assert(out === Map("b" -> 2000000L))
  }

  test("maxHops truncates the accumulation horizon") {
    val out = run(undirected(("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "e")), Seq("a"), hops = 2)
    // only layers 1..2 exist: delta(b) = 1 (from c alone), c = 0
    assert(out === Map("b" -> 1000000L))
  }

  test("hit_max_hops flags horizon truncation vs exhaustion") {
    val edges = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    def flags(hops: Int) = Betweenness
      .sampled(edges, "src", "dst", Seq("a").toDF("s"), "s", hops)
      .select("hit_max_hops").distinct().collect().map(_.getBoolean(0))
    // hop budget 2 cuts a live frontier (d, e unreached) — biased
    assert(flags(2).toSeq === Seq(true))
    // budget 6 > eccentricity 4: frontier exhausts itself — complete
    assert(flags(6).toSeq === Seq(false))
    // budget exactly the eccentricity: layer 4 is non-empty when the
    // loop stops, so the flag is conservatively true (MAY be biased)
    assert(flags(4).toSeq === Seq(true))
  }

  test("deterministic under repartitioning") {
    val edges = undirected((1 to 60).map(i =>
      (s"n${i % 13}", s"n${(i * 7) % 13}")).filter(p => p._1 != p._2): _*)
    val a = run(edges, Seq("n0", "n1"))
    val b = run(edges.repartition(7), Seq("n0", "n1"))
    assert(a === b)
  }

  test("forward layers and deltas(0) are released; only the output's deltas stay") {
    val path = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val (out, left) = leftPersisted(Betweenness.sampled(
      path, "src", "dst", Seq("a").toDF("s"), "s", 6))
    // depth 4: the output reads deltas(1..4)
    assert(checkpointsRead(out).size === 4)
    assert(left.subsetOf(checkpointsRead(out)))
    assert(out.count() === 3L)
    // a seed without out-edges (depth 0): the output reads the seed layer
    val (empty, leftEmpty) = leftPersisted(Betweenness.sampled(
      path, "src", "dst", Seq("z").toDF("s"), "s", 6))
    assert(checkpointsRead(empty).size === 1)
    assert(leftEmpty.subsetOf(checkpointsRead(empty)))
    assert(empty.count() === 0L)
  }
}
