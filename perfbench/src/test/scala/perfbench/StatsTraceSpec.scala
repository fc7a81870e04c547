package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsTraceSpec extends AnyFunSuite {
  test("percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 0.95).contains(190.0)) // exactly 10 beyond
    assert(Stats.percentile(xs.take(199), 0.95).isEmpty) // 9 beyond
    assert(Stats.percentile(xs.take(100), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    assert(Stats.highestPercentile(xs).contains("p95" -> 190.0))
    assert(Stats.highestPercentile((1 to 1000).map(_.toDouble)).contains("p99" -> 990.0))
    assert(Stats.highestPercentile(xs.take(50)).isEmpty)
  }

  test("median: odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("span self times on a synthetic tree sum to the root's duration") {
    // root [0,100] with children a [10,40] (grandchild a1 [20,30]) and
    // b [35,90] overlapping a; self(root) counts [10,90] covered once
    val spans = Seq(
      Span(0, "root", -1, 0, 0, 100),
      Span(1, "a", 0, 0, 10, 40),
      Span(2, "a1", 1, 0, 20, 30),
      Span(3, "b", 0, 0, 35, 90))
    val self = Trace.selfNs(spans)
    assert(self == Map(0 -> 20L, 1 -> 20L, 2 -> 10L, 3 -> 55L))
    // the overlap [35,40] is attributed to both children, so the strict
    // sum is over a tree without sibling overlap:
    val disjoint = spans.updated(3, Span(3, "b", 0, 0, 40, 90))
    assert(Trace.selfNs(disjoint).values.sum == 100L)
  }

  test("tracer records nested spans with parents and a per-op self split") {
    val t = new Tracer(enabled = true)
    t.beginOp(7, traced = true)
    t.span("outer") { t.span("inner") { Thread.sleep(5) } }
    t.beginOp(8, traced = false)
    t.span("skipped") { () }
    val spans = t.spans
    assert(spans.map(_.name).toSet == Set("outer", "inner"))
    val inner = spans.find(_.name == "inner").get
    val outer = spans.find(_.name == "outer").get
    assert(inner.parent == outer.id && outer.parent == -1 && inner.op == 7)
    val per = Trace.selfMsPerOp(spans)
    assert(math.abs(per("outer").sum + per("inner").sum - outer.durNs / 1e6) < 1e-6)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    t.beginOp(0, traced = true)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }

  test("interval union") {
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Trace.union(Nil) == 0L)
  }

  test("trace overhead compares warm traced and untraced ops of one kind") {
    val ops = Seq(Op("a", 900, ok = true, traced = true), // cold: left out
      Op("a", 110, ok = true, traced = true), Op("a", 100, ok = true, traced = false),
      Op("b", 50, ok = true, traced = true)) // no untraced "b": no ratio
    assert(math.abs(Report.traceOverhead(ops) - 0.1) < 1e-9)
    assert(Report.traceOverhead(ops.take(1)) == 0.0)
  }
}
