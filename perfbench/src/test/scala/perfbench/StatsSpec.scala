package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailLevel(10).isEmpty)
    assert(Stats.tailLevel(11).contains(1.0 / 11))
    assert(Stats.tailLevel(1000).contains(0.99))
    val xs = (1 to 1000).map(_.toDouble).toArray
    val tail = Stats.percentileSorted(xs, Stats.tailLevel(xs.length).get)
    assert(tail == 990.0)
    assert(xs.count(_ > tail) == 10)
    // one level higher would leave only nine beyond
    val next = Stats.percentileSorted(xs, 0.991)
    assert(xs.count(_ > next) == 9)
    // with 37 samples the rule picks the 27th smallest
    val ys = (1 to 37).map(_.toDouble).toArray
    assert(Stats.percentileSorted(ys, Stats.tailLevel(37).get) == 27.0)
  }

  test("a named percentile is valid only with ten samples beyond it") {
    assert(Stats.tailValid(1000, 0.99))
    assert(!Stats.tailValid(999, 0.99))
    assert(Stats.tailValid(200, 0.95))
    assert(!Stats.tailValid(199, 0.95))
    assert(Stats.tailValid(100, 0.9))
  }

  test("nearest-rank percentiles and medians") {
    val xs = Array(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentileSorted(xs, 0.5) == 2.0)
    assert(Stats.percentileSorted(xs, 1.0) == 4.0)
    assert(Stats.percentileSorted(xs, 0.0) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
