package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long, name: String = "x") =
    Span(id, name, parent, 0L, start, end, start, end)

  test("self time subtracts disjoint children") {
    val p = span(1, -1, 0, 100)
    assert(Trace.selfNanos(p, Seq(span(2, 1, 10, 20), span(3, 1, 50, 80))) == 60)
  }

  test("overlapping children are subtracted once") {
    val p = span(1, -1, 0, 100)
    val kids = Seq(span(2, 1, 10, 60), span(3, 1, 40, 70), span(4, 1, 65, 90))
    assert(Trace.selfNanos(p, kids) == 20) // covered: [10, 90]
  }

  test("children are clipped to the parent's interval") {
    val p = span(1, -1, 100, 200)
    assert(Trace.selfNanos(p, Seq(span(2, 1, 50, 150), span(3, 1, 190, 250))) == 40)
  }

  test("selfSeconds groups children by parent") {
    val spans = Seq(span(1, -1, 0, 1000000000L), span(2, 1, 0, 400000000L),
      span(3, 2, 0, 100000000L))
    val self = Trace.selfSeconds(spans)
    assert(self(1) == 0.6 && self(2) == 0.3 && self(3) == 0.1)
  }

  test("a task goes to the innermost span open when it finished") {
    val spans = Seq(span(1, -1, 0, 100, "streaming"), span(2, 1, 20, 60, "pipeline.upsert"))
    val tasks = Seq(TaskSample(30, 1, 0, 0, 0), TaskSample(80, 2, 0, 0, 0), TaskSample(500, 3, 0, 0, 0))
    val by = Trace.attribute(spans, tasks)
    assert(by(2).map(_.runMs) == Seq(1L) && by(1).map(_.runMs) == Seq(2L) && by.size == 2)
    val view = new TraceView(spans, tasks)
    assert(view.layerTaskMedian("streaming")(_.runMs.toDouble) == 3.0)
    assert(view.layerTaskMedian("pipeline")(_.runMs.toDouble) == 1.0)
  }

  test("a disabled tracer records nothing; an enabled one nests spans") {
    val off = new Tracer(false)
    off.op(1)(off.span("a")(()))
    assert(off.recorded.isEmpty)
    val on = new Tracer(true)
    on.op(7)(on.span("pipeline")(on.span("pipeline.produce")(())))
    val byName = on.recorded.map(s => s.name -> s).toMap
    assert(byName("pipeline.produce").parent == byName("pipeline").id)
    assert(byName("pipeline").parent == byName("op").id)
    assert(on.recorded.forall(_.op == 7))
  }
}
