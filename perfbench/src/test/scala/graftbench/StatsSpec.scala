package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("tail reports the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(xs(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(xs(99)) == Some((75.0, 75.0)))
    assert(Stats.tail(xs(40)) == Some((75.0, 30.0)))
    assert(Stats.tail(xs(1000)) == Some((99.0, 990.0)))
  }

  test("tail falls back to nothing below twenty samples") {
    assert(Stats.tail(xs(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(xs(19)).isEmpty)
  }

  test("nearest-rank median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  test("mean of per-kind medians ignores one kind's outlier") {
    val fast = Seq(0.2, 0.21, 0.19)
    val slow = Seq(1.0, 9.0, 1.1)
    assert(math.abs(Stats.meanOfMedians(Seq(fast, slow)) - 0.65) < 1e-12)
  }
}
