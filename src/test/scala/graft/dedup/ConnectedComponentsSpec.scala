package graft.dedup

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  private def edges(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  private def labelMap(pairs: (String, String)*): Map[String, String] =
    ConnectedComponents.labels(edges(pairs: _*), "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("two disjoint components get their minimum ids") {
    val m = labelMap("b" -> "c", "a" -> "b", "x" -> "y")
    assert(m == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("a chain longer than one hop converges to the global minimum") {
    // a-b-c-d-e as a path: min label must travel the whole diameter
    val m = labelMap("d" -> "e", "c" -> "d", "b" -> "c", "a" -> "b")
    assert(m.values.toSet == Set("a"))
    assert(m.keySet == Set("a", "b", "c", "d", "e"))
  }

  test("cycles terminate and label correctly") {
    val m = labelMap("a" -> "b", "b" -> "c", "c" -> "a")
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("edge direction is irrelevant (symmetrized)") {
    assert(labelMap("z" -> "a") == Map("a" -> "a", "z" -> "a"))
  }

  test("self-loops and duplicate edges are harmless") {
    val m = labelMap("a" -> "a", "a" -> "b", "b" -> "a", "a" -> "b")
    assert(m == Map("a" -> "a", "b" -> "a"))
  }

  test("clusters summarizes representative and size") {
    val l = ConnectedComponents.labels(
      edges("a" -> "b", "b" -> "c", "x" -> "y"), "doc_a", "doc_b")
    val sizes = ConnectedComponents.clusters(l)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("a" -> 3L, "x" -> 2L))
  }

  test("star rounds are O(log n), not O(diameter): 1000-node chain") {
    // the worst case for label propagation (diameter 999) — the
    // alternating large-star/small-star loop must collapse it in a
    // couple dozen rounds, the property that makes the operator safe for
    // pathological chain-shaped near-dup graphs at corpus scale
    val chain = (0 until 999).map(i => f"n$i%04d" -> f"n${i + 1}%04d")
    val (l, rounds) = ConnectedComponents.labelsWithRounds(
      edges(chain: _*), "doc_a", "doc_b")
    info(s"1000-node chain converged in $rounds star rounds")
    assert(rounds <= 25, s"expected O(log n) rounds, got $rounds")
    val m = l.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == 1000)
    assert(m.values.toSet == Set("n0000"))
  }

  test("both algorithms agree on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(300) {
      (f"v${rnd.nextInt(120)}%03d", f"v${rnd.nextInt(120)}%03d")
    }
    val star = ConnectedComponents.labels(
        edges(pairs: _*), "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val prop = ConnectedComponents.labelsPropagation(
        edges(pairs: _*), "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star == prop)
  }

  test("maxIter truncation raises instead of returning wrong clusters") {
    // star variant: a 10-node chain cannot be a star fixpoint after one
    // round — the loop must raise rather than return intermediates
    val chain = (0 until 9).map(i => f"n$i%02d" -> f"n${i + 1}%02d")
    val e = intercept[RuntimeException] {
      ConnectedComponents.labels(edges(chain: _*), "doc_a", "doc_b",
        maxIter = 1).count()
    }
    assert(e.getMessage.contains("did not converge"))
    assert(e.getMessage.contains("maxIter"))
    // propagation variant: the min label travels one hop per round, so 3
    // rounds cannot finish the 9-hop chain
    val e2 = intercept[RuntimeException] {
      ConnectedComponents.labelsPropagation(edges(chain: _*), "doc_a",
        "doc_b", maxIter = 3).count()
    }
    assert(e2.getMessage.contains("did not converge"))
    // with enough rounds the same graph converges to the chain head
    val m = ConnectedComponents.labelsPropagation(edges(chain: _*), "doc_a",
      "doc_b", maxIter = 12).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.values.toSet == Set("n00"))
    assert(m.size == 10)
  }

  test("star loop accepts a graph whose last change lands in round maxIter") {
    val chain = (0 until 9).map(i => f"n$i%02d" -> f"n${i + 1}%02d")
    val (_, rounds) = ConnectedComponents.labelsWithRounds(
      edges(chain: _*), "doc_a", "doc_b")
    // `rounds` includes the confirmation round, so the last edge-set
    // change happened in round rounds-1 — maxIter = rounds-1 must still
    // succeed via its confirmation round instead of raising
    val m = ConnectedComponents.labels(edges(chain: _*), "doc_a", "doc_b",
      maxIter = rounds - 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.values.toSet == Set("n00"))
  }

  test("a graph converging in exactly maxIter rounds is accepted") {
    // n00-..-n09 path: the last label change lands in round 9 — with
    // maxIter = 9 the loop must still run the confirmation round instead
    // of rejecting the (correct) result as non-converged
    val chain = (0 until 9).map(i => f"n$i%02d" -> f"n${i + 1}%02d")
    val m = ConnectedComponents.labelsPropagation(edges(chain: _*), "doc_a",
      "doc_b", maxIter = 9).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.values.toSet == Set("n00"))
  }

  test("the iteration loop leaves nothing in the SQL cache") {
    // generations live as localCheckpoint block RDDs (freed by the
    // ContextCleaner when unreferenced), not CacheManager entries — a
    // long session accumulates no catalog-visible cache state
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    ConnectedComponents.labels(
      edges("a" -> "b", "b" -> "c"), "doc_a", "doc_b").count()
    assert(cm.isEmpty)
  }

  test("labelsPropagation releases every generation but the last") {
    // a six-hop chain takes seven propagation rounds
    val chain = (0 until 6).map(i => s"n$i" -> s"n${i + 1}")
    val (out, left) = leftPersisted(ConnectedComponents.labelsPropagation(
      edges(chain: _*), "doc_a", "doc_b"))
    assert(checkpointsRead(out).size === 1)
    assert(left.subsetOf(checkpointsRead(out)))
    assert(out.select("cluster_id").distinct().collect().map(_.getString(0))
      .toSeq === Seq("n0"))
  }
}
