package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  /** A clock that advances by the given steps, one per reading. */
  private def steps(ns: Long*): () => Long = {
    val it = ns.scanLeft(0L)(_ + _).iterator
    () => it.next()
  }

  test("self time is wall time minus the direct children's wall time") {
    // readings: outer start 0, a start 10, a end 40, b start 45, b end 95, outer end 100
    val t = new Tracer(steps(10, 30, 5, 50, 5))
    t.span("outer", 0) {
      t.span("a", 0)(())
      t.span("b", 0)(())
    }
    val spans = t.spans
    val outer = spans.find(_.name == "outer").get
    assert(outer.wallNs == 100)
    assert(Spans.selfNs(spans, outer) == 100 - 30 - 50)
    assert(spans.filter(_.name != "outer").forall(_.parent == outer.id))
  }

  test("self time subtracts children only, not grandchildren") {
    val t = new Tracer(steps(1, 2, 3, 4, 5))
    // outer [0,15], mid [1,10], inner [3,6]
    t.span("outer", 0)(t.span("mid", 0)(t.span("inner", 0)(())))
    val spans = t.spans
    def s(n: String) = spans.find(_.name == n).get
    assert(Spans.selfNs(spans, s("outer")) == s("outer").wallNs - s("mid").wallNs)
    assert(Spans.selfNs(spans, s("mid")) == s("mid").wallNs - s("inner").wallNs)
    assert(Spans.selfNs(spans, s("inner")) == s("inner").wallNs)
  }

  test("a recorded duration becomes a child of the innermost open span") {
    // plan opens at 0, the build is recorded at 50, plan closes at 100
    val t = new Tracer(steps(50, 50))
    t.span("plan", 3)(t.record("build", 3, 40))
    val spans = t.spans
    val plan = spans.find(_.name == "plan").get
    val build = spans.find(_.name == "build").get
    assert(build.parent == plan.id && build.op == 3 && build.wallNs == 40)
    assert(Spans.selfNs(spans, plan) == plan.wallNs - 40)
  }

  test("a span closes even when its body throws") {
    val t = new Tracer(steps(1, 1))
    intercept[IllegalStateException](t.span("boom", 0)(throw new IllegalStateException("x")))
    assert(t.spans.map(_.name) == Seq("boom"))
  }

  test("events go to the innermost span open at their time") {
    val spans = Seq(Span(0, "op", -1, 0, 0, 100), Span(1, "a", 0, 0, 10, 40),
      Span(2, "b", 0, 0, 50, 90))
    assert(Spans.innermost(spans, 20).map(_.name).contains("a"))
    assert(Spans.innermost(spans, 45).map(_.name).contains("op"))
    assert(Spans.innermost(spans, 50).map(_.name).contains("b"))
    assert(Spans.innermost(spans, 150).isEmpty)
    val w = Spans.window(spans, Seq(5L, 20L, 30L, 60L, 200L))(identity)
    assert(w == Map(0 -> Seq(5L), 1 -> Seq(20L, 30L), 2 -> Seq(60L)))
  }

  test("union of intervals clips to the window and merges overlaps") {
    assert(Spans.unionNs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(Spans.unionNs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(Spans.unionNs(Nil, 0, 10) == 0)
  }

  test("per-span windowing sums each span's jobs, stages and plans, nested spans included") {
    val spans = Seq(Span(0, "op", -1, 0, 0, 1000), Span(1, "medallion.bronze", 0, 0, 0, 400),
      Span(2, "engine.sink_append/bronze", 1, 0, 100, 400), Span(3, "medallion.silver", 0, 0, 400, 1000))
    def stage(id: Int, end: Long, cpuNs: Long) =
      StageRec(id, 0, end - 10, end, 2, cpuNs, 10, 1, 1000000, 0, 0, 2000000, 7, Seq(5L, 5L))
    val rec = RunRecord(spans,
      jobs = Seq(JobRec(0, 50, 60), JobRec(1, 150, 300), JobRec(2, 500, 900)),
      stages = Seq(stage(0, 60, 1000000000L), stage(1, 300, 2000000000L), stage(2, 900, 4000000000L)),
      plans = Seq(PlanRec(40, 100000000L), PlanRec(450, 200000000L)),
      opsPerPass = 1, traced = Set(0))
    val bronze = rec.within(spans(1))
    assert(bronze.jobs == 2 && bronze.stages == 2 && bronze.cpuS == 3.0)
    assert(bronze.recordsWritten == 14 && bronze.catalystS == 0.1)
    val append = rec.within(spans(2))
    assert(append.jobs == 1 && append.cpuS == 2.0 && append.writeMb == 2.0)
    val silver = rec.within(spans(3))
    assert(silver.jobs == 1 && silver.cpuS == 4.0 && silver.catalystS == 0.2)
    val op = rec.within(spans(0))
    assert(op.jobs == 3 && op.cpuS == 7.0 && op.shuffleMb == 3.0)
    // jobs cover 10 + 150 + 400 ns of the op's 1000 ns
    val layer = rec.sparkLayer
    assert(layer("spark.job_s") == 560 / 1e9)
    assert(math.abs(layer("spark.driver_s") - 440 / 1e9) < 1e-15)
  }
}
