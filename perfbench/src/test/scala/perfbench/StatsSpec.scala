package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("tail percentile keeps ten samples beyond it and reports the count") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t20 = Stats.tail((1 to 20).reverse.map(_.toDouble)).get
    assert(t20 == Stats.Tail(50.0, 10.0, 10))
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t100 == Stats.Tail(90.0, 90.0, 10))
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11.value == 1.0 && t11.beyond == 10)
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(1, "pipeline", None, 1, 0, 100),
      Span(2, "a", Some(1), 1, 10, 30),
      Span(3, "b", Some(1), 1, 20, 50), // overlaps a: 10..50 counts once
      Span(4, "c", Some(1), 1, 60, 70),
      Span(5, "c.inner", Some(4), 1, 62, 66),
      Span(6, "late", Some(1), 1, 95, 120)) // runs past its parent: 95..100 counts
    val self = Stats.selfNanos(spans)
    assert(self(1) == 100 - 40 - 10 - 5)
    assert(self(2) == 20 && self(3) == 30)
    assert(self(4) == 10 - 4 && self(5) == 4)
  }
}
