package perfbench

import org.scalatest.funsuite.AnyFunSuite

import ErBench.{Sample, Tally}

class TallySpec extends AnyFunSuite {

  test("a run that throws or fails its check is failed and never sampled") {
    val tally = new Tally
    tally.record("passes")(Right(Sample(2.0, 3.0, 1.0)))
    tally.record("wrong output")(Left("3 output rows, expected 4"))
    tally.record("throws")(throw new IllegalStateException("boom"))
    tally.record("passes again")(Right(Sample(4.0, 5.0, 0.995)))
    assert(tally.attempted == 4)
    assert(tally.failed == 2)
    assert(tally.samples.map(_.wallS) == Seq(2.0, 4.0))
  }

  test("a fatal error is not swallowed") {
    val tally = new Tally
    assertThrows[OutOfMemoryError](tally.record("fatal")(throw new OutOfMemoryError("heap")))
  }
}
