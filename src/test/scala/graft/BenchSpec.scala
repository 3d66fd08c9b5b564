package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS resolves to a number: '*' means every processor") {
    assert(GraftSession.cpuCount("8") == 8)
    assert(GraftSession.cpuCount(" 4 ") == 4)
    assert(GraftSession.cpuCount("*") == Runtime.getRuntime.availableProcessors())
    // the JSON line echoes it unquoted, so only a number may get through
    intercept[NumberFormatException](GraftSession.cpuCount("many"))
    intercept[IllegalArgumentException](GraftSession.cpuCount("0"))
  }

  test("Verify and Probe read SPARK_GRAFT_CPUS through the one parse") {
    // '*' must reach every tool as a number: it sizes local[n] and the
    // shuffle partitions alike
    val n = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.envCpus(4, Map("SPARK_GRAFT_CPUS" -> "*")) == n)
    assert(GraftSession.envCpus(32, Map("SPARK_GRAFT_CPUS" -> "*")) == n)
    assert(GraftSession.envCpus(4, Map.empty) == 4)
    assert(GraftSession.envCpus(4, Map("SPARK_GRAFT_CPUS" -> "2")) == 2)
    intercept[NumberFormatException](GraftSession.envCpus(4, Map("SPARK_GRAFT_CPUS" -> "x")))
  }

  test("a key that throws gets no time and is named as failed") {
    var runs = Map.empty[String, Int]
    val t = Bench.time(Seq("q01_ok", "q02_boom", "q03_ok"), 2) { n =>
      runs += n -> (runs.getOrElse(n, 0) + 1)
      if (n == "q02_boom") throw new IllegalStateException("boom")
    }
    assert(t.failed == Seq("q02_boom"))
    assert(runs("q02_boom") == 1, "a failed key is not run again")
    assert(runs("q01_ok") == 3) // warm-up + two timed passes
    assert(t.warmup.map(_._1) == Seq("q01_ok", "q03_ok"))
    assert(t.passes.size == 2)
    assert(t.passes.forall(_.map(_._1) == Seq("q01_ok", "q03_ok")))
    assert(t.best.map(_._1) == Seq("q01_ok", "q03_ok"))
    assert(Bench.failedJson(t.failed) == "\"failed\":[\"q02_boom\"],")
  }

  test("a key that throws only in a timed pass is dropped from every pass") {
    var calls = 0
    val t = Bench.time(Seq("a", "late"), 1) { n =>
      if (n == "late") { calls += 1; if (calls == 2) throw new RuntimeException("late") }
    }
    assert(t.failed == Seq("late"))
    assert(t.warmup.map(_._1) == Seq("a"))
    assert(t.best.map(_._1) == Seq("a"))
  }

  test("a clean run carries no failed member") {
    val t = Bench.time(Seq("a", "b"), 1)(_ => ())
    assert(t.failed.isEmpty)
    assert(Bench.failedJson(t.failed) == "")
    assert(t.best.map(_._1) == Seq("a", "b"))
  }
}
