package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, s"s$id", "r", s, e)

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 20, 50), // overlaps span 1: counted once
      span(3, 0, 90, 120), // runs past the parent: clipped at 100
      span(4, 1, 12, 18)) // a grandchild: covered by its parent, not by span 0
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 6)
  }

  test("a span without children keeps its whole duration; disjoint children add up") {
    val self = Trace.selfTimes(Seq(span(0, -1, 0, 10), span(1, 0, 1, 3), span(2, 0, 5, 9)))
    assert(self(0) == 4)
    assert(Trace.selfTimes(Seq(span(0, -1, 5, 9)))(0) == 4)
  }

  test("the tracer nests its own spans and attaches recorded ones by containment") {
    val t = new Tracer("run", enabled = true)
    var inner = (0L, 0L)
    t.span("outer") {
      t.span("inner") {
        val a = System.nanoTime(); Thread.sleep(2); inner = (a, System.nanoTime())
      }
    }
    t.record("listener", inner._1, inner._2)
    val all = t.all
    val byName = all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(byName("listener").parent == byName("inner").id)
    assert(all.forall(_.runId == "run"))
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer("run", enabled = false)
    assert(t.span("x")(41 + 1) == 42)
    t.record("y", 0, 1)
    assert(t.all.isEmpty)
  }

  test("the trace document carries every span with its self time") {
    val doc = Trace.toJson(Seq(span(0, -1, 0, 2000000000L), span(1, 0, 0, 500000000L)),
      Seq("run_id" -> "r"))
    assert(doc.startsWith("{\"run_id\":\"r\",\"spans\":["))
    assert(doc.contains("\"self_s\":1.5"))
  }
}
