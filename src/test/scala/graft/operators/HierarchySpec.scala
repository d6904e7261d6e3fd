package graft.operators

import graft.SparkSpec

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def resolve(rows: Seq[(Long, Option[Long])], maxRounds: Int = 40) =
    Hierarchy.resolveRoots(rows.toDF("node", "parent"), "node", "parent",
      maxRounds)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("chain: every node resolves to the single root with its depth") {
    // 5 -> 4 -> 3 -> 2 -> 1 (root)
    val rows = Seq(1L -> None, 2L -> Some(1L), 3L -> Some(2L),
      4L -> Some(3L), 5L -> Some(4L))
    val out = resolve(rows)
    assert(out == Map(
      1L -> ((Some(1L), Some(0L))), 2L -> ((Some(1L), Some(1L))),
      3L -> ((Some(1L), Some(2L))), 4L -> ((Some(1L), Some(3L))),
      5L -> ((Some(1L), Some(4L)))))
  }

  test("forest: nodes resolve to their own tree's root") {
    val rows = Seq(1L -> None, 2L -> Some(1L),
      10L -> None, 11L -> Some(10L), 12L -> Some(11L))
    val out = resolve(rows)
    assert(out(2L) == ((Some(1L), Some(1L))))
    assert(out(12L) == ((Some(10L), Some(2L))))
  }

  test("deep chain resolves in logarithmic rounds") {
    // depth 600 with maxRounds 12: only doubling can resolve it
    // (a per-level walk would need 600 rounds)
    val rows = (1L to 600L).map(i =>
      i -> (if (i == 1) None else Some(i - 1)))
    val out = resolve(rows, maxRounds = 12)
    assert(out(600L) == ((Some(1L), Some(599L))))
    assert(out(300L) == ((Some(1L), Some(299L))))
  }

  test("a cycle surfaces as unresolved, not an infinite loop") {
    val rows = Seq(1L -> Some(2L), 2L -> Some(1L), 3L -> None,
      4L -> Some(3L))
    val out = resolve(rows, maxRounds = 8)
    assert(out(1L) == ((None, None)))
    assert(out(2L) == ((None, None)))
    assert(out(4L) == ((Some(3L), Some(1L))))
  }

  test("superseded generations are released: only the last outlives the call") {
    // depth 20 takes five doubling rounds
    val rows = (1L to 20L).map(i => i -> (if (i == 1) None else Some(i - 1)))
    val (out, left) = leftPersisted(Hierarchy.resolveRoots(
      rows.toDF("node", "parent"), "node", "parent"))
    assert(checkpointsRead(out).size === 1)
    assert(left.subsetOf(checkpointsRead(out)))
    assert(out.filter($"root" === 1L).count() === 20L)
  }
}
