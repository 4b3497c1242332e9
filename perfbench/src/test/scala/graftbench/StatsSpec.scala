package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts, any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles equal Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by CPython's statistics.quantiles
    assert(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0)) == ((1.25, 2.5, 3.75)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles(Seq(1.5, 2.5, 10.0, 4.0, 7.0, 3.0, 8.0, 9.0, 6.0,
      5.0)) == ((2.875, 5.5, 8.25)))
    // two values extrapolate past both ends, as Python does
    assert(Stats.quartiles(Seq(2.0, 8.0)) == ((0.5, 5.0, 9.5)))
  }

  test("empty and single inputs are refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quartiles(Seq(1.0)))
  }
}
