package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, start: Double, end: Double) =
    Span(id, parent, "t", s"s$id", start, end)

  test("union length of overlapping, touching and clipped intervals") {
    assert(Spans.covered(Nil, 0, 10) == 0.0)
    assert(Spans.covered(Seq((2.0, 5.0), (4.0, 8.0)), 0, 10) == 6.0)
    assert(Spans.covered(Seq((2.0, 5.0), (5.0, 6.0)), 0, 10) == 4.0)
    assert(Spans.covered(Seq((-3.0, 1.0), (8.0, 12.0)), 0, 10) == 3.0)
    assert(Spans.covered(Seq((11.0, 12.0)), 0, 10) == 0.0)
  }

  test("self time subtracts direct children only") {
    val self = Spans.selfTimes(Seq(
      sp(1, 0, 0, 10),
      sp(2, 1, 1, 4),
      sp(3, 1, 6, 9),
      sp(4, 2, 2, 3)))
    assert(self == Map(1 -> 4.0, 2 -> 2.0, 3 -> 3.0, 4 -> 1.0))
  }

  test("overlapping children are counted once") {
    // parallel jobs under one op: [1,6] and [3,8] cover [1,8]
    val self = Spans.selfTimes(Seq(sp(1, 0, 0, 10), sp(2, 1, 1, 6), sp(3, 1, 3, 8)))
    assert(self(1) == 3.0)
  }

  test("a child that outlives its parent is clipped to it") {
    val self = Spans.selfTimes(Seq(sp(1, 0, 0, 10), sp(2, 1, 8, 12)))
    assert(self(1) == 8.0)
    assert(self(2) == 4.0)
  }
}
