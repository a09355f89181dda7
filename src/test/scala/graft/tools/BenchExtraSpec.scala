package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {

  test("a failed query has no MIN, stays out of total_min and is listed as failed") {
    // q2 failed in round 2 after timing fast in round 1: its 0.01 s must
    // not reach the minima or the total
    val s = BenchExtra.summarize(
      Seq("q1", "q2", "q3"),
      Map("q1" -> Seq(2.0, 1.5), "q2" -> Seq(0.01), "q3" -> Seq(3.0, 4.0)),
      failed = Set("q2"))
    assert(s.mins == Seq("q1" -> 1.5, "q3" -> 3.0))
    assert(s.total == 4.5)
    assert(s.failed == Seq("q2"))
  }
}
