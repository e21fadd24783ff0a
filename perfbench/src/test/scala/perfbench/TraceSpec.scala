package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, op = 1, name = s"s$id", startNs = start, endNs = end)

  test("self time subtracts the children's covered interval") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60), span(4, 2, 15, 20))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 70) // 100 - (20 + 10)
    assert(self(2) == 15) // 20 - 5 of its own child
    assert(self(3) == 10)
    assert(self(4) == 5)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(span(1, 0, 100, 200), span(2, 1, 90, 150), span(3, 1, 140, 170),
      span(4, 1, 190, 260))
    // covered: [100,170) and [190,200) = 80
    assert(Trace.selfTimes(spans)(1) == 20)
  }

  test("the tracer nests spans, tags them with the op, and records nothing when off") {
    val t = new Tracer
    t.begin(7, traced = true)
    t.span("a") { t.span("b") { () }; t.span("c") { () } }
    t.end()
    t.begin(8, traced = false)
    assert(t.span("d")(42) == 42)
    t.end()
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName.keySet == Set("a", "b", "c"))
    assert(byName("a").parent == 0)
    assert(byName("b").parent == byName("a").id && byName("c").parent == byName("a").id)
    assert(t.spans.forall(_.op == 7))
    assert(byName("a").startNs <= byName("b").startNs && byName("c").endNs <= byName("a").endNs)
  }

  test("a span is recorded even when its body throws") {
    val t = new Tracer
    t.begin(1, traced = true)
    intercept[IllegalStateException](t.span("boom")(throw new IllegalStateException("x")))
    t.end()
    assert(t.spans.map(_.name) == Seq("boom"))
  }

  test("mean self seconds per span name") {
    val spans = Seq(Span(1, 0, 1, "x", 0, 2000000000L), Span(2, 0, 2, "x", 0, 1000000000L),
      Span(3, 1, 1, "y", 0, 500000000L))
    val m = Trace.meanSelfSeconds(spans)
    assert(m("x") == 1.25) // (1.5 + 1.0) / 2
    assert(m("y") == 0.5)
  }
}
