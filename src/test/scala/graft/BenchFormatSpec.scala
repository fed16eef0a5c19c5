package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract line's per-query values: no measured query prints a
  * bare `0`, in any degradation tier.
  */
class BenchFormatSpec extends AnyFunSuite {

  test("medianText: sub-second medians keep one decimal, floored at 0.1; the integer tier rounds the rest") {
    // the integer (0-decimal) fallback tier
    assert(Bench.medianText(0.03, 0) == "0.1")
    assert(Bench.medianText(0.44, 0) == "0.4")
    assert(Bench.medianText(12.6, 0) == "13")
    // the 1-decimal tiers
    assert(Bench.medianText(0.0, 1) == "0.1")
    assert(Bench.medianText(2.5, 1) == "2.5")
    assert(Bench.medianText(3.0, 1) == "3")
    // a failed row stays -1
    assert(Bench.medianText(-1.0, 0) == "-1")
    assert(Bench.medianText(-1.0, 1) == "-1")
  }
}
