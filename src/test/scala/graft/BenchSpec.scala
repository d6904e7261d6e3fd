package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses as a positive integer or fails loudly") {
    val vars = Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_CHUNK",
      "SPARK_GRAFT_PROFILE_RUNS")
    for (v <- vars) {
      assert(Harness.parsePositiveInt(v, "8") === 8)
      assert(Harness.parsePositiveInt(v, "32") === 32)
      for (bad <- Seq("", "eight", "8 ", "4.0", "0", "-2", "8,16")) {
        val e = intercept[IllegalArgumentException](
          Harness.parsePositiveInt(v, bad))
        assert(e.getMessage.contains(v))
        assert(e.getMessage.contains(s"'$bad'"))
      }
    }
  }

  test("the contract line parses from the last 2000 chars of stdout") {
    val results = SparkEntry.all.map(_.name).zipWithIndex
      .map { case (n, i) => n -> (0.6 + i % 50 * 0.137) }
    assert(results.size === 360)
    val line = Bench.contractLine(results, "/data/testdata/sf0.1", 32,
      Some("bench_full_c32.json"))
    assert(line.length <= 300, line)
    // whatever the run printed before, only the tail is kept
    val noise = Seq.fill(40)("WARN WindowExec: No Partition Defined for " +
      "Window operation! Moving all data to a single partition.")
    val stdout = (noise :+ line).mkString("", "\n", "\n")
    val tail = stdout.takeRight(2000)
    val json = new ObjectMapper().readTree(
      tail.split("\n").filter(_.contains("\"metric\"")).last)
    assert(json.get("value").isNumber)
    assert(math.abs(json.get("value").asDouble - results.map(_._2).sum) < 1e-3)
    assert(json.get("n_queries").asInt === 360)
    assert(json.get("cpus").asInt === 32)
    assert(json.get("artifact").asText === "bench_full_c32.json")
  }
}
