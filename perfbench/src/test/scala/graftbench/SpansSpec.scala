package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("unionLength counts overlapping intervals once") {
    assert(Spans.unionLength(Nil) == 0.0)
    assert(Spans.unionLength(Seq((0.0, 10.0))) == 10.0)
    assert(Spans.unionLength(Seq((0.0, 10.0), (5.0, 15.0))) == 15.0)
    assert(Spans.unionLength(Seq((20.0, 30.0), (0.0, 10.0))) == 20.0)
    assert(Spans.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (10.0, 12.0))) == 12.0)
    // empty and inverted intervals cover nothing
    assert(Spans.unionLength(Seq((5.0, 5.0), (9.0, 1.0))) == 0.0)
  }

  test("self time is duration minus the union of direct children") {
    val spans = Seq(
      Span("root", -1, 0, 100),
      Span("a", 0, 10, 30),
      Span("b", 0, 20, 50), // overlaps a: together they cover 10..50
      Span("a.inner", 1, 12, 28), // a grandchild of root: not subtracted from root
      Span("c", 0, 90, 120)) // runs past root's end: clipped to 90..100
    assert(Spans.selfMs(spans, 0) == 100 - 40 - 10)
    assert(Spans.selfMs(spans, 1) == 20 - 16)
    assert(Spans.selfMs(spans, 2) == 30)
    assert(Spans.selfMs(spans, 3) == 16)
    assert(Spans.selfMs(spans, 4) == 30)
  }

  test("self times of a tree add up to the root's duration") {
    val spans = Seq(
      Span("root", -1, 0, 60), Span("x", 0, 0, 20), Span("y", 0, 30, 60),
      Span("y1", 2, 35, 40), Span("y2", 2, 40, 50))
    assert(spans.indices.map(Spans.selfMs(spans, _)).sum == 60)
  }

  test("innermostAt picks the latest-starting open span") {
    val spans = Seq(Span("root", -1, 0, 100), Span("a", 0, 10, 30), Span("a1", 1, 15, 20))
    assert(Spans.innermostAt(spans, 5) == 0)
    assert(Spans.innermostAt(spans, 12) == 1)
    assert(Spans.innermostAt(spans, 17) == 2)
    assert(Spans.innermostAt(spans, 25) == 1)
    assert(Spans.innermostAt(spans, 150) == -1)
  }

  test("the recorder nests spans by call structure") {
    val rec = new SpanRecorder
    rec("outer") { rec("first")(()); rec("second")(rec("deep")(())) }
    val s = rec.spans
    assert(s.map(_.name) == Seq("outer", "first", "second", "deep"))
    assert(s.map(_.parent) == Seq(-1, 0, 0, 2))
    assert(s.forall(x => x.endMs >= x.startMs))
  }
}
