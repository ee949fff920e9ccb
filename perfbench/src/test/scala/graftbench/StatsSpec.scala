package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tail(xs(9)).isEmpty) // not even the median has 10 beyond
    assert(Stats.tail(xs(20)).map(_._1).contains(50.0))
    assert(Stats.tail(xs(39)).map(_._1).contains(50.0))
    assert(Stats.tail(xs(40)).map(_._1).contains(75.0))
    assert(Stats.tail(xs(99)).map(_._1).contains(75.0)) // p90 needs 100
    assert(Stats.tail(xs(100)).contains((90.0, 90.0)))
    assert(Stats.tail(xs(199)).map(_._1).contains(90.0))
    assert(Stats.tail(xs(200)).map(_._1).contains(95.0))
    assert(Stats.tail(xs(1000)).map(_._1).contains(99.0))
    assert(Stats.tail(xs(10000)).map(_._1).contains(99.9))
  }

  test("the reported tail value has at least ten samples above it") {
    for (n <- Seq(20, 57, 100, 345, 1000, 4321)) {
      val s = xs(n)
      val (_, v) = Stats.tail(s).get
      assert(s.count(_ > v) >= 10, s"n=$n")
    }
  }
}
