package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  private def sp(id: Int, name: String, start: Long, end: Long, parent: Int, req: Int = 0) =
    Span(id, name, start, end, parent, req)

  test("union of intervals merges overlaps and skips empty ones") {
    assert(SelfTime.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 25L))) == 25L)
    assert(SelfTime.unionLength(Nil) == 0L)
    assert(SelfTime.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
  }

  test("self time = duration minus the union of children") {
    val spans = Seq(
      sp(0, "request", 0, 100, -1),
      sp(1, "construct", 0, 20, 0),
      sp(2, "plan", 20, 30, 0),
      sp(3, "action", 30, 90, 0),
      sp(4, "stage", 35, 60, 3),
      sp(5, "stage", 50, 80, 3), // overlaps stage 4 by 10
      sp(6, "sink", 90, 98, 0))
    val layers = SelfTime.byLayer(spans)
    assert(layers("request") == 2) // 100 - (20 + 10 + 60 + 8)
    assert(layers("construct") == 20)
    assert(layers("plan") == 10)
    assert(layers("action") == 15) // 60 - union(35..80)
    assert(layers("stage") == 45) // the union, not 25 + 30
    assert(layers("sink") == 8)
    assert(layers.values.sum == 100)
    assert(SelfTime.reconcile(spans) == 0.0)
    assert(SelfTime.driverGap(spans.head, spans) == 55) // 100 - 45
  }

  test("children are clipped to their parent") {
    val spans = Seq(sp(0, "query", 0, 50, -1), sp(1, "stage", 40, 70, 0))
    assert(SelfTime.byLayer(spans) == Map("query" -> 40L, "stage" -> 10L))
    assert(SelfTime.reconcile(spans) == 0.0)
  }

  test("overlapping non-stage siblings show up as a reconciliation error") {
    val spans = Seq(sp(0, "op", 0, 100, -1), sp(1, "a", 0, 60, 0), sp(2, "b", 40, 100, 0))
    assert(math.abs(SelfTime.reconcile(spans) - 0.2) < 1e-9)
  }

  test("the tracer attaches listener stages under the deepest span") {
    val tr = new Tracer(true)
    tr.span("request") { tr.span("action")(Thread.sleep(30)) }
    val action = tr.all.find(_.name == "action").get
    val startMs = action.start / 1000 + 5
    tr.attachStages(Seq(StageRec(1, startMs, startMs + 10, 4, 30, 20, 0, 1.5, 0)))
    val stage = tr.all.find(_.name == "stage").get
    assert(stage.parent == action.id)
    assert(stage.attrs("tasks") == 4.0 && stage.attrs("shuffle_write_mb") == 1.5)
    assert(SelfTime.reconcile(tr.all) < 1e-9)
  }

  test("a disabled tracer records nothing") {
    val tr = new Tracer(false)
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.all.isEmpty)
  }
}
