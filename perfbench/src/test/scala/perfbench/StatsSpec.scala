package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("p95 needs 200 samples: the highest percentile with 10 beyond it") {
    assert(Stats.beyond(200, 95) == 10)
    assert(Stats.beyond(199, 95) == 9)
    assert(Stats.tailPercentile(200) == Some(95.0))
    assert(Stats.tailPercentile(199) == Some(90.0))
    assert(Stats.tailPercentile(1000) == Some(99.0))
    assert(Stats.tailPercentile(10000) == Some(99.9))
    assert(Stats.tailPercentile(100) == Some(90.0))
    assert(Stats.tailPercentile(40) == Some(75.0))
    assert(Stats.tailPercentile(20) == Some(50.0))
    assert(Stats.tailPercentile(19) == None)
  }
}
