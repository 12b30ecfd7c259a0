package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank quantiles of 1..100") {
    val xs = Array.tabulate(100)(i => (i + 1).toLong)
    assert(Stats.quantile(xs, 0.5) == 50)
    assert(Stats.quantile(xs, 0.99) == 99)
    assert(Stats.quantile(xs, 1.0) == 100)
    assert(Stats.quantile(Array(7L), 0.99) == 7)
  }

  test("a tail quantile needs at least ten samples beyond it") {
    val n999 = Array.tabulate(999)(_.toLong)
    assert(Stats.beyond(999, 0.99) == 9)
    assert(Stats.tail(n999, 0.99).isLeft)
    val n1000 = Array.tabulate(1000)(_.toLong)
    assert(Stats.beyond(1000, 0.99) == 10)
    assert(Stats.tail(n1000, 0.99) == Right(989L))
    assert(Stats.tail(Array.tabulate(20)(_.toLong), 0.5) == Right(9L))
    assert(Stats.tail(Array.tabulate(19)(_.toLong), 0.5).isLeft)
  }

  test("group tails take each full run of consecutive samples on its own") {
    // two groups of 1000 (0..999, then 1000..1999) and a partial third that is dropped
    val xs = Array.tabulate(2500)(_.toLong)
    assert(Stats.groupTails(xs, 1000, 0.99) == Seq(989L, 1989L))
    // order matters, not the value: reversed input gives the same two groups
    assert(Stats.groupTails(xs.take(2000).reverse, 1000, 0.99).sorted == Seq(989L, 1989L))
    assert(Stats.groupTails(xs.take(999), 1000, 0.99).isEmpty)
    assertThrows[IllegalArgumentException](Stats.groupTails(xs, 999, 0.99))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("covered time of overlapping spans counts each instant once") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Trace.covered(Nil) == 0)
  }
}
