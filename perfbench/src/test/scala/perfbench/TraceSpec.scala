package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def self(spans: Span*)(i: Int): Long = Trace.selfNanos(spans.toIndexedSeq, i)

  test("a span without children is all self time") {
    assert(self(Span("a", 10, 50, -1, "r"))(0) == 40)
  }

  test("disjoint children are subtracted, the gaps stay") {
    val spans = Seq(Span("p", 0, 100, -1, "r"), Span("c1", 10, 30, 0, "r"),
      Span("c2", 50, 90, 0, "r"))
    assert(self(spans: _*)(0) == 100 - 20 - 40)
  }

  test("overlapping children count each instant once") {
    val spans = Seq(Span("p", 0, 100, -1, "r"), Span("c1", 10, 60, 0, "r"),
      Span("c2", 40, 80, 0, "r"), Span("c3", 45, 50, 0, "r"))
    assert(self(spans: _*)(0) == 100 - 70)
  }

  test("a child sticking out of its parent is clipped") {
    val spans = Seq(Span("p", 20, 100, -1, "r"), Span("c", 0, 50, 0, "r"),
      Span("d", 90, 130, 0, "r"))
    assert(self(spans: _*)(0) == 80 - 30 - 10)
  }

  test("only direct children count against a span") {
    val spans = Seq(Span("p", 0, 100, -1, "r"), Span("c", 10, 60, 0, "r"),
      Span("g", 20, 30, 1, "r"))
    assert(self(spans: _*)(0) == 50)
    assert(self(spans: _*)(1) == 40)
    assert(self(spans: _*)(2) == 10)
  }

  test("the tracer records nesting, run ids and nothing when disabled") {
    val t = new Tracer(enabled = true)
    t.run("r1")(t.span("outer")(t.span("inner")(())))
    t.run("r2")(t.span("outer")(()))
    assert(t.spans.map(s => (s.name, s.parent, s.runId)) ==
      Seq(("outer", -1, "r1"), ("inner", 0, "r1"), ("outer", -1, "r2")))
    assert(t.spans.forall(s => s.end >= s.start))
    val off = new Tracer(enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("median") {
    assert(Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Metrics.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
