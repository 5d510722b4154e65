package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile leaves at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(11).contains(0.09))
    assert(Stats.tailPercentile(10).isEmpty)
    for (n <- 11 to 500; p <- Stats.tailPercentile(n)) {
      val rank = math.ceil(p * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p")
      // one point higher would leave fewer than ten, or is past p99
      val higher = math.round(p * 100 + 1) / 100.0
      assert(higher > 0.99 || n - math.ceil(higher * n).toInt < 10, s"n=$n p=$p not the highest")
    }
  }

  test("nearest-rank percentile and median on synthetic samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(5.0), 0.5) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("interval union, measure and subtract") {
    assert(Stats.union(Seq(5.0 -> 7.0, 1.0 -> 3.0, 2.0 -> 4.0)) == Seq(1.0 -> 4.0, 5.0 -> 7.0))
    assert(Stats.measure(Seq(0.0 -> 10.0, 2.0 -> 3.0, 9.0 -> 12.0)) == 12.0)
    assert(Stats.subtract(Seq(0.0 -> 10.0), Seq(2.0 -> 3.0, 2.5 -> 4.0, 8.0 -> 20.0)) ==
      Seq(0.0 -> 2.0, 4.0 -> 8.0))
    assert(Stats.subtract(Seq(0.0 -> 1.0), Seq(0.0 -> 1.0)).isEmpty)
  }
}
