package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS resolves to a number: '*' means every processor") {
    assert(Bench.cpuCount("8") == 8)
    assert(Bench.cpuCount(" 4 ") == 4)
    assert(Bench.cpuCount("*") == Runtime.getRuntime.availableProcessors())
    // the JSON line echoes it unquoted, so only a number may get through
    intercept[NumberFormatException](Bench.cpuCount("many"))
    intercept[IllegalArgumentException](Bench.cpuCount("0"))
  }
}
