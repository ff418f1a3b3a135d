package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100)))
    // order of arrival does not matter
    assert(Stats.tail(scala.util.Random.shuffle(xs)).map(_.value).contains(90.0))
    // eleven samples: the smallest is the only one with ten beyond it
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven).contains(Stats.Tail(1.0, 100.0 / 11, 11)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_.pct).contains(50.0))
  }

  test("ten samples or fewer have no tail") {
    assert(Stats.tail(Nil).isEmpty)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
