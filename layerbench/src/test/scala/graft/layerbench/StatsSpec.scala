package graft.layerbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(xs, n=4)") {
    // values printed by Python 3.11 for these inputs
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 20.0)
    assert(t.beyondCount == 10 && t.samples == 30)
    assert(math.abs(t.percentile - 200.0 / 3) < 1e-9)
    assert(xs.count(_ > t.value) == 10)
    assert(t.label.startsWith("p66.7"))
  }

  test("tail needs 22 samples to sit above the median") {
    val xs = (1 to 22).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.defined && t.value == 12.0 && t.value > Stats.median(xs))
  }

  test("tail with too few samples falls back to the maximum and says so") {
    val t = Stats.tail((1 to 21).map(_.toDouble))
    assert(!t.defined && t.value == 21.0)
    assert(t.label.contains("only 21 samples"))
  }

  test("failed_share counts failures against attempts") {
    assert(Stats.failedShare(0, 40) == 0.0)
    assert(Stats.failedShare(1, 4) == 0.25)
    assertThrows[IllegalArgumentException](Stats.failedShare(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedShare(5, 4))
  }
}
