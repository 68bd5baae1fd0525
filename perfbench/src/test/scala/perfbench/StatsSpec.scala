package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile leaving at least ten samples above it") {
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(20).contains(50))
    // 10 samples above rank 20 of 30 (p66), and p67's rank 21 leaves only 9
    assert(Stats.tailPercentile(30).contains(66))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("the tail value is a measured sample, with its percentile") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.tail(xs) == ((30.0, 75)))
    assert(xs.count(_ > 30.0) == 10)
  }

  test("too few samples report the maximum as percentile 100") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100)))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
