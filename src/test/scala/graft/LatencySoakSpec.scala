package graft

import org.scalatest.funsuite.AnyFunSuite

/** The soak's percentile: a steady-state figure exists only when some
  * batch is past warm-up.
  */
class LatencySoakSpec extends AnyFunSuite {
  test("percentile is nearest-rank over the sorted samples and None when there are none") {
    val a = (1L to 100L).toArray
    assert(LatencySoak.percentile(a, 0.50) === Some(51L))
    assert(LatencySoak.percentile(a, 0.99) === Some(100L))
    assert(LatencySoak.percentile(Array(7L), 0.95) === Some(7L))
    assert(LatencySoak.percentile(Array.empty[Long], 0.50) === None)
  }
}
