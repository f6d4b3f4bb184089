package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, a: Long, b: Long) =
    Span(id, s"s$id", parent, a, b, "run")

  test("self time subtracts the union of overlapping children once") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 40),
      span(2, 0, 30, 60), // overlaps child 1 on [30, 40)
      span(3, 0, 80, 90),
      span(4, 1, 15, 20)) // grandchild: counts against its parent only
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 100 - (60 - 10) - (90 - 80))
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(4) == 5)
  }

  test("a child running past its parent only covers the parent's interval") {
    val self = Tracer.selfTimes(Seq(span(0, -1, 0, 50), span(1, 0, 40, 70)))
    assert(self(0) == 40)
  }

  test("spans record parents, run id and restore the enclosing group") {
    val entered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t = new Tracer("r1", true, entered += _, _ => ())
    t.span("outer") { t.span("inner")(()); t.span("inner2")(()) }
    val ss = t.spans
    assert(ss.map(s => (s.name, s.parent)) ==
      Seq(("outer", -1), ("inner", 0), ("inner2", 0)))
    assert(ss.forall(_.runId == "r1"))
    assert(entered == Seq(0, 1, 0, 2, 0))
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer("", false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}
