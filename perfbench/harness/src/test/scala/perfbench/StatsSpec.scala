package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quantiles interpolate linearly between the closest ranks") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 5.0)
    assert(Stats.quantile(xs, 0.25) == 2.0 && Stats.quantile(xs, 0.75) == 4.0)
    assert(Stats.quantile(Seq(10.0, 20.0), 0.25) == 12.5)
  }

  test("p99 of 1..100 sits between the two largest samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.quantile(xs, 0.99) - 99.01) < 1e-9)
    assert(Stats.quantileSorted(Stats.sortedSeconds(Array(3000000000L, 1000000000L)), 0.5) == 2.0)
  }

  test("an empty sample or a quantile outside [0, 1] is refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }
}
