package graft.operators

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.spark.sql.functions._

import graft.SparkSpec

class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  test("exact regime: quantiles are the ⌈q·n⌉ order statistics") {
    val df = (1 to 10).map(i => ("k", i.toDouble)).toDF("g", "v")
    val state = QuantileSketch.build(df, Seq("g"), "v")
    val out = QuantileSketch.quantiles(state, Seq("g"),
        Seq(0.1, 0.5, 0.55, 0.9, 1.0))
      .select("q", "value").as[(Double, Double)].collect().toMap
    assert(out(0.1) == 1.0)  // ceil(1.0) = 1st
    assert(out(0.5) == 5.0)  // ceil(5.0) = 5th
    assert(out(0.55) == 6.0) // ceil(5.5) = 6th
    assert(out(0.9) == 9.0)
    assert(out(1.0) == 10.0)
  }

  test("merge of batch states equals a single build (exact regime), " +
    "and new keys pass through") {
    val all = (1 to 90).map(i => (s"k${i % 3}", i.toDouble))
    val direct = QuantileSketch.build(all.toDF("g", "v"), Seq("g"), "v")
    val batches = all.grouped(30).toSeq.map(b =>
      QuantileSketch.build(b.toDF("g", "v"), Seq("g"), "v"))
    val folded = batches.reduce((a, b) =>
      QuantileSketch.merge(a, b, Seq("g")))
    val qd = QuantileSketch.quantiles(direct, Seq("g"), Seq(0.25, 0.75))
      .as[(String, Double, Double)].collect().toSet
    val qf = QuantileSketch.quantiles(folded, Seq("g"), Seq(0.25, 0.75))
      .as[(String, Double, Double)].collect().toSet
    assert(qd == qf)
    val extra = QuantileSketch.build(
      Seq(("new", 42.0)).toDF("g", "v"), Seq("g"), "v")
    val merged = QuantileSketch.merge(folded, extra, Seq("g"))
    assert(merged.count() == 4)
  }

  test("rollup to a coarser grain unions the fine-grain sketches") {
    val df = (1 to 40).map(i =>
      (s"svc${i % 2}", s"d${i % 4}", i.toDouble)).toDF("svc", "day", "v")
    val fine = QuantileSketch.build(df, Seq("svc", "day"), "v")
    val rolled = QuantileSketch.quantiles(fine, Seq("svc"), Seq(1.0))
      .select("svc", "value").as[(String, Double)].collect().toMap
    // max of svc0 rows (even i) is 40; svc1 (odd i) is 39
    assert(rolled("svc0") == 40.0 && rolled("svc1") == 39.0)
  }

  test("nulls are skipped, not counted as zeros") {
    val df = Seq(("k", Some(10.0)), ("k", None), ("k", Some(30.0)))
      .toDF("g", "v")
    val out = QuantileSketch.quantiles(
        QuantileSketch.build(df, Seq("g"), "v"), Seq("g"), Seq(0.5))
      .select("value").as[Double].collect().head
    assert(out == 10.0) // ceil(0.5·2) = 1st of {10, 30}
  }

  test("a group whose values are all null yields NaN for every q") {
    val df = Seq(("k", Some(1.0)), ("k", Some(2.0)), ("nulls", None),
      ("nulls", None)).toDF("g", "v")
    val out = QuantileSketch.quantiles(
        QuantileSketch.build(df, Seq("g"), "v"), Seq("g"), Seq(0.5, 1.0))
      .as[(String, Double, Double)].collect()
    val nulls = out.filter(_._1 == "nulls")
    assert(nulls.map(_._2).toSet == Set(0.5, 1.0))
    assert(nulls.forall(_._3.isNaN), nulls.toSeq)
    assert(out.filter(_._1 == "k").map(r => r._2 -> r._3).toMap ==
      Map(0.5 -> 1.0, 1.0 -> 2.0))
  }

  test("state bytes written by the DataSketches library directly merge " +
    "and read like freshly built state") {
    val vals = (1 to 50).map(_.toDouble)
    val sk = KllDoublesSketch.newHeapInstance(200)
    vals.foreach(v => sk.update(v))
    val stored = Seq(("k", sk.toByteArray)).toDF("g", "qsketch")
    val fresh = QuantileSketch.build(
      vals.map(v => ("k", v)).toDF("g", "v"), Seq("g"), "v")
    val qs = Seq(0.1, 0.5, 0.9, 1.0)
    def read(state: org.apache.spark.sql.DataFrame) =
      QuantileSketch.quantiles(state, Seq("g"), qs)
        .as[(String, Double, Double)].collect().toSet
    assert(read(stored) == read(fresh))
    val batch = QuantileSketch.build(
      (51 to 100).map(i => ("k", i.toDouble)).toDF("g", "v"), Seq("g"), "v")
    val all = QuantileSketch.build(
      (1 to 100).map(i => ("k", i.toDouble)).toDF("g", "v"), Seq("g"), "v")
    assert(read(QuantileSketch.merge(stored, batch, Seq("g"))) == read(all))
  }

  test("approximate regime honors the published rank-error envelope") {
    val n = 100000
    val df = (1 to n).map(i => ("k", i.toDouble)).toDF("g", "v")
      .repartition(8)
    val est = QuantileSketch.quantiles(
        QuantileSketch.build(df, Seq("g"), "v"), Seq("g"), Seq(0.5))
      .select("value").as[Double].collect().head
    // k=200 → ~1.7% rank error at high confidence; allow 3x slack
    assert(math.abs(est - n / 2.0) < 0.05 * n,
      s"p50 estimate $est too far from ${n / 2}")
  }
}
