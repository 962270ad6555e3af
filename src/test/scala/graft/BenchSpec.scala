package graft

import org.scalatest.funsuite.AnyFunSuite

/** The job-interval union behind Bench's driver gap: a pass's gap is its
  * wall time minus the time during which at least one job ran. */
class BenchSpec extends AnyFunSuite {
  import Bench.unionLength

  test("unionLength adds disjoint intervals in any order") {
    assert(unionLength(Seq(20L -> 30L, 0L -> 5L, 10L -> 12L)) == 17L)
  }

  test("unionLength counts overlapping intervals once") {
    assert(unionLength(Seq(0L -> 10L, 5L -> 15L, 14L -> 20L)) == 20L)
    // touching ends: no gap, no double count
    assert(unionLength(Seq(0L -> 10L, 10L -> 20L)) == 20L)
  }

  test("unionLength ignores intervals nested inside another") {
    assert(unionLength(Seq(0L -> 100L, 10L -> 20L, 30L -> 90L)) == 100L)
    assert(unionLength(Seq(10L -> 20L, 0L -> 100L)) == 100L)
  }

  test("unionLength counts identical intervals once") {
    assert(unionLength(Seq(5L -> 9L, 5L -> 9L, 5L -> 9L)) == 4L)
  }

  test("unionLength of no intervals or of empty ones is zero") {
    assert(unionLength(Nil) == 0L)
    assert(unionLength(Seq(7L -> 7L, 3L -> 3L)) == 0L)
    assert(unionLength(Seq(7L -> 7L, 0L -> 4L)) == 4L)
  }
}
