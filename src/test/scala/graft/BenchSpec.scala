package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses as a positive integer or fails loudly") {
    assert(Bench.parseCpus("8") === 8)
    assert(Bench.parseCpus("32") === 32)
    for (bad <- Seq("", "eight", "8 ", "4.0", "0", "-2", "8,16")) {
      val e = intercept[IllegalArgumentException](Bench.parseCpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
