package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0)
    assert(Stats.beyond((1 to 100).map(_.toDouble), 0.9) == 10)
    // a failed op is +inf: it lands beyond every finite bound
    assert(Stats.percentile(Seq(1.0, 2.0, Double.PositiveInfinity), 1.0).isInfinite)
  }

  test("interval union merges overlaps, keeps gaps and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    // nested and touching intervals
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L), (50L, 60L)), 0, 100) == 50)
    // clipped on both sides; an interval outside the window adds nothing
    assert(Stats.unionLength(Seq((-5L, 10L), (90L, 120L), (200L, 300L)), 0, 100) == 20)
    // order of input does not matter
    assert(Stats.unionLength(Seq((40L, 50L), (10L, 20L), (15L, 30L)), 0, 100) == 30)
  }
}
