package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles interpolate between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 9.1) < 1e-12)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("quantiles ignore input order") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.quantile(xs, 0.25) == 2.0)
    assert(Stats.quantile(xs.reverse, 0.75) == 4.0)
  }

  test("empty samples and out-of-range quantiles are refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("fail ratio is failed over attempted") {
    assert(Stats.failRatio(0, 42) == 0.0)
    assert(Stats.failRatio(1, 4) == 0.25)
    assert(Stats.failRatio(3, 3) == 1.0)
    assertThrows[IllegalArgumentException](Stats.failRatio(0, 0))
    assertThrows[IllegalArgumentException](Stats.failRatio(5, 4))
  }
}
