package graft

import org.scalatest.funsuite.AnyFunSuite

/** JobProfile's critical-path wall is the union of job and SQL-execution
  * intervals: concurrent jobs must count once, not summed. */
class JobProfileSpec extends AnyFunSuite {
  import JobProfile.covered

  test("covered: empty input, and empty or inverted intervals, cover nothing") {
    assert(covered(Nil) == 0L)
    assert(covered(Seq((5L, 5L), (9L, 3L))) == 0L)
  }

  test("covered: disjoint intervals add up") {
    assert(covered(Seq((20L, 25L), (0L, 10L))) == 15L)
  }

  test("covered: overlapping and touching intervals count their overlap once") {
    assert(covered(Seq((5L, 15L), (0L, 10L))) == 15L)
    assert(covered(Seq((0L, 10L), (10L, 12L), (11L, 30L))) == 30L)
  }

  test("covered: nested intervals add nothing to their container") {
    assert(covered(Seq((0L, 100L), (10L, 20L), (30L, 40L), (50L, 100L))) == 100L)
    assert(covered(Seq((10L, 20L), (0L, 100L), (200L, 210L))) == 110L)
  }
}
