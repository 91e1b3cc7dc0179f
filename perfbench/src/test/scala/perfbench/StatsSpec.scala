package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile carries its sample count and the samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    val p99 = Stats.percentile(xs, 99)
    assert(p99.n == 1000)
    assert(p99.value == 990.0)
    assert(p99.beyond == 10)
    val p50 = Stats.percentile(xs.reverse, 50)
    assert(p50.value == 500.0 && p50.n == 1000 && p50.beyond == 500)
  }

  test("a small sample has too few samples beyond its p99 to trust it") {
    val p = Stats.percentile((1 to 200).map(_.toDouble), 99)
    assert(p.n == 200 && p.beyond == 2)
  }

  test("nearest rank stays inside the sample") {
    assert(Stats.rank(0, 5) == 1)
    assert(Stats.rank(100, 5) == 5)
    assert(Stats.percentile(Seq(7.0), 99) == Pct(99, 7.0, 1))
  }

  test("median, and the interval union used for stage walls") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L))) == 0L)
  }
}
