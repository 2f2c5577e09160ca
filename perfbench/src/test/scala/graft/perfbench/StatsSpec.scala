package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("percentiles interpolate between closest ranks") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(math.abs(Stats.percentile(xs, 90) - 4.6) < 1e-12)
    assert(Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 5.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
  }
}
