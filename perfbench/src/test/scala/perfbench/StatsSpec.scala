package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 8.25)))
    // statistics.quantiles([1.0, 2.0, 4.0, 8.0, 16.0], n=4) == [1.5, 4.0, 12.0]
    assert(Stats.quartiles(Seq(16.0, 1.0, 4.0, 2.0, 8.0)) == ((1.5, 12.0)))
    // two samples: quantiles([1.0, 3.0], n=4) == [0.5, 2.0, 3.5]
    assert(Stats.quartiles(Seq(1.0, 3.0)) == ((0.5, 3.5)))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 90) == 5.0)
  }
}
