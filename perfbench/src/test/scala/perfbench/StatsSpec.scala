package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    assert(Stats.percentile(ramp(100), 90) == 90.0)
    assert(Stats.percentile(ramp(10), 99) == 10.0)
    assert(Stats.percentile(ramp(1000), 99.9) == 999.0)
  }

  test("no tail percentile until at least 10 samples lie beyond p90") {
    assert(Stats.summary(ramp(1)).tail.isEmpty)
    assert(Stats.summary(ramp(99)).tail.isEmpty)
    assert(Stats.summary(ramp(99)).n == 99)
  }

  test("the reported tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.summary(ramp(100)).tail.contains(90.0 -> 90.0))
    assert(Stats.summary(ramp(999)).tail.map(_._1).contains(90.0))
    assert(Stats.summary(ramp(1000)).tail.contains(99.0 -> 990.0))
    assert(Stats.summary(ramp(10000)).tail.contains(99.9 -> 9990.0))
    // and at each of those levels, exactly 10 samples sit above the rank
    Seq(100, 1000, 10000).foreach { n =>
      val s = Stats.summary(ramp(n))
      assert(ramp(n).count(_ > s.tail.get._2) == 10)
    }
  }

  test("summary renders its sample count, median and tail") {
    assert(Stats.summary(ramp(100)).toJson == """{"n": 100, "median": 50.5, "p90": 90.0}""")
    assert(Stats.summary(ramp(3)).toJson == """{"n": 3, "median": 2.0}""")
  }
}
