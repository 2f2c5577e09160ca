package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, layer: String, s: Long, e: Long) =
    Span(id, parent, 1, layer, "x", s, e)

  test("self time subtracts the union of child intervals inside the parent") {
    val p = span(1, 0, "cache", 0, 100)
    assert(Trace.selfNanos(p, Nil) == 100)
    // overlapping children count once; the part sticking out is ignored
    val kids = Seq(span(2, 1, "store", 10, 20), span(3, 1, "store", 15, 30),
      span(4, 1, "store", 90, 120))
    assert(Trace.selfNanos(p, kids) == 100 - 20 - 10)
    // a child wholly outside the parent covers nothing
    assert(Trace.selfNanos(p, Seq(span(5, 1, "store", 200, 300))) == 100)
    // children covering the parent leave no self time
    assert(Trace.selfNanos(p, Seq(span(6, 1, "store", -5, 50), span(7, 1, "store", 50, 100))) == 0)
  }

  test("self time per layer sums each span's own part") {
    val spans = Seq(
      span(1, 0, "bench", 0, 100),
      span(2, 1, "spark", 10, 90),
      span(3, 2, "cache", 20, 40),
      span(4, 2, "cache", 30, 60),
      span(5, 3, "store", 25, 35))
    val self = Trace.selfByLayer(spans)
    assert(self("bench") == 20)
    assert(self("spark") == 80 - 40)
    assert(self("cache") == (20 - 10) + 30)
    assert(self("store") == 10)
  }

  test("recorded spans link to the enclosing span and share the op id") {
    Trace.clear()
    Trace.enabled = true
    try {
      Trace.setOp(42)
      Trace.span("bench", "op") {
        Trace.span("cache", "read") { Trace.span("store", "get")(()) }
      }
      Trace.setOp(0)
    } finally Trace.enabled = false
    val byLayer = Trace.all.map(s => s.layer -> s).toMap
    assert(Trace.all.forall(_.op == 42))
    assert(byLayer("bench").parent == 0)
    assert(byLayer("cache").parent == byLayer("bench").id)
    assert(byLayer("store").parent == byLayer("cache").id)
    Trace.clear()
  }
}
