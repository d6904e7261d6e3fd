package graft.operators

import org.apache.datasketches.theta.UpdateSketch

import graft.SparkSpec

class ThetaSketchOpsSpec extends SparkSpec {
  import spark.implicits._

  private def state(rows: Seq[(String, String)]) =
    ThetaSketchOps.build(rows.toDF("g", "v"), Seq("g"), "v")

  test("exact regime: overlap returns true set cardinalities and the " +
    "algebra reconciles") {
    val a = state(Seq("k" -> "u1", "k" -> "u2", "k" -> "u3", "k" -> "u2"))
    val b = state(Seq("k" -> "u2", "k" -> "u3", "k" -> "u4"))
    val r = ThetaSketchOps.overlap(a, b, Seq("g"))
      .as[(String, Double, Double, Double, Double, Double)].collect().head
    assert(r == (("k", 3.0, 3.0, 4.0, 2.0, 1.0)))
    // inclusion-exclusion holds exactly
    assert(r._4 == r._2 + r._3 - r._5)
  }

  test("keys missing on either side are dropped (inner semantics); " +
    "empty intersections are 0, not universal") {
    val a = state(Seq("both" -> "x", "onlyA" -> "y"))
    val b = state(Seq("both" -> "z", "onlyB" -> "w"))
    val out = ThetaSketchOps.overlap(a, b, Seq("g"))
      .as[(String, Double, Double, Double, Double, Double)].collect()
    assert(out.map(_._1).toSet == Set("both"))
    assert(out.head._5 == 0.0) // disjoint values -> empty intersection
  }

  test("several rows per key on one side are unioned before the " +
    "intersection") {
    // A holds {1,2} and {3} as two rows of key k; B holds {1,3}
    val a = state(Seq("k" -> "1", "k" -> "2"))
      .unionByName(state(Seq("k" -> "3")))
    val b = state(Seq("k" -> "1", "k" -> "3"))
    val r = ThetaSketchOps.overlap(a, b, Seq("g"))
      .as[(String, Double, Double, Double, Double, Double)].collect()
    assert(r.toSeq == Seq(("k", 3.0, 2.0, 3.0, 2.0, 1.0)))
  }

  test("state bytes written by the DataSketches library directly merge " +
    "and intersect like freshly built state") {
    def libraryBytes(vs: Seq[String]): Array[Byte] = {
      val u = UpdateSketch.builder().setLogNominalEntries(12).build()
      vs.foreach(v => u.update(v))
      u.compact().toByteArray
    }
    val aVals = (1 to 60).map(i => s"u$i")
    val bVals = (41 to 100).map(i => s"u$i")
    val stored = Seq(("k", libraryBytes(aVals))).toDF("g", "tsketch")
    val fresh = state(aVals.map("k" -> _))
    val b = state(bVals.map("k" -> _))
    def row(x: org.apache.spark.sql.DataFrame) =
      ThetaSketchOps.overlap(x, b, Seq("g"))
        .as[(String, Double, Double, Double, Double, Double)].collect().head
    assert(row(stored) == row(fresh))
    assert(row(stored) == (("k", 60.0, 60.0, 100.0, 20.0, 40.0)))
    val merged = ThetaSketchOps.merge(stored, state(Seq("k" -> "u999")),
      Seq("g"))
    assert(row(merged)._2 == 61.0)
  }

  test("merge of batch states equals a single build (exact regime)") {
    val all = (1 to 300).map(i => (s"k${i % 2}", s"u${i % 97}"))
    val direct = state(all)
    val folded = all.grouped(100).toSeq.map(state)
      .reduce((x, y) => ThetaSketchOps.merge(x, y, Seq("g")))
    val est = (df: org.apache.spark.sql.DataFrame) =>
      ThetaSketchOps.overlap(df, df, Seq("g"))
        .as[(String, Double, Double, Double, Double, Double)]
        .collect().map(r => r._1 -> r._2).toMap
    assert(est(direct) == est(folded))
    assert(est(direct).values.forall(_ == 97.0))
  }

  test("past capacity the estimate stays inside the published error") {
    val n = 30000
    val big = ThetaSketchOps.build(
      (1 to n).map(i => ("k", s"user$i")).toDF("g", "v")
        .repartition(8), Seq("g"), "v", lgK = 10) // capacity 1024
    val est = ThetaSketchOps.overlap(big, big, Seq("g"))
      .as[(String, Double, Double, Double, Double, Double)]
      .collect().head._2
    // ~1/sqrt(1024) ≈ 3.1% relative error; allow 4x slack
    assert(math.abs(est - n) < 0.125 * n, s"estimate $est vs $n")
  }
}
