package lvbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile needs ten samples beyond it") {
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    assert(Stats.percentile(xs(20), 0.5).contains(10.5))
    assert(Stats.percentile(xs(91), 0.9).isEmpty)
    assert(Stats.percentile(xs(92), 0.9).isDefined)
    assert(Stats.percentile(xs(91), 0.1).isEmpty)
    assert(Stats.percentile(xs(92), 0.1).isDefined)
  }

  test("median of repeats") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
  }
}
