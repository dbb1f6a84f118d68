package perfbench

/** A named, seeded workload. The harness times `setup` once and a closed
  * loop of operations; a pass is `opsPerPass` consecutive operations, the
  * unit the end-to-end figures are reported for.
  */
trait Workload {
  def opsPerPass: Int

  /** Generates the workload's inputs from the seed, once, before set-up.
    * This is the benchmark's own work, so it is not part of the set-up
    * figure.
    */
  def prepare(): Unit

  /** The program's set-up, in a fresh JVM: the state the timed loop runs on. */
  def setup(): Unit

  /** Runs operation `i`, through the traced call path when `t` is given. */
  def op(i: Int, t: Option[Tracer]): Unit

  /** What operation `i` is, for the run log. */
  def label(i: Int): String = ""

  /** Work done before operation `i`, outside its timing. */
  def beforeOp(i: Int): Unit = ()

  /** Work done after operation `i`, outside its timing. */
  def afterOp(i: Int): Unit = ()

  /** Correctness checks, run after the timed loop: (name, ok, detail). */
  def checks(): Seq[Check]

  /** Whether pass `p` of a traced run uses the traced call path. */
  def tracedPass(p: Int): Boolean = true

  /** The fewest passes a run makes, however short `--seconds` is. */
  def minPasses(trace: Boolean): Int = 1

  /** Per-layer figures from the traced passes of a run. */
  def layers(r: RunRecord): Map[String, Double]
}

final case class Check(name: String, ok: Boolean, detail: String)

/** What the timed loop left behind, for per-layer arithmetic: the spans
  * and the Spark records the listeners collected.
  */
final case class RunRecord(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
    plans: Seq[PlanRec], opsPerPass: Int, traced: Set[Int]) {
  /** The `op` spans, one per operation, in order. */
  val ops: Seq[Span] = spans.filter(s => s.name == "op" && s.parent < 0).sortBy(_.op)

  def passOf(op: Int): Int = op / opsPerPass

  /** Complete passes only: a pass cut short has no end-to-end figure. */
  val passes: Seq[Seq[Span]] =
    ops.groupBy(s => passOf(s.op)).toSeq.sortBy(_._1).map(_._2.sortBy(_.op))
      .filter(_.length == opsPerPass)

  def tracedPasses: Seq[Seq[Span]] = passes.filter(p => traced.contains(passOf(p.head.op)))
  def plainPasses: Seq[Seq[Span]] = passes.filterNot(p => traced.contains(passOf(p.head.op)))

  def passWallS(p: Seq[Span]): Double = p.map(_.wallNs).sum / 1e9

  private lazy val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  private def subtree(s: Span): Seq[Int] =
    s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)

  // every job, stage and plan record, keyed by the innermost span open
  // at its event time: jobs by start, stages by completion, plans by
  // the start of their first Catalyst phase
  private lazy val jobsAt = Spans.window(spans, jobs)(_.startNs)
  private lazy val stagesAt = Spans.window(spans, stages)(_.endNs)
  private lazy val plansAt = Spans.window(spans, plans)(_.startNs)

  /** Spark work attributed to span `s` or any span nested in it. */
  def within(s: Span): Work = {
    val ids = subtree(s)
    Work.of(ids.flatMap(jobsAt.getOrElse(_, Nil)), ids.flatMap(stagesAt.getOrElse(_, Nil)),
      ids.flatMap(plansAt.getOrElse(_, Nil)))
  }

  def work(p: Seq[Span]): Seq[Work] = p.map(within)

  /** Spans inside pass `p` whose name is `name` or starts with `name/`. */
  def named(p: Seq[Span], name: String): Seq[Span] = {
    val ops = p.map(_.op).toSet
    spans.filter(s => ops.contains(s.op) && (s.name == name || s.name.startsWith(name + "/")))
  }

  def wallS(ss: Seq[Span]): Double = ss.map(_.wallNs).sum / 1e9
  def selfS(ss: Seq[Span]): Double = ss.map(Spans.selfNs(spans, _)).sum / 1e9
  def workOf(ss: Seq[Span]): Seq[Work] = ss.map(within)

  /** Median over traced passes of a per-pass figure. */
  def perPass(f: Seq[Span] => Double): Double =
    if (tracedPasses.isEmpty) 0.0 else Stats.median(tracedPasses.map(f))

  /** Figures every workload reports from the same Spark counters. */
  def sparkLayer: Map[String, Double] = {
    def sum(p: Seq[Span])(g: Work => Double) = work(p).map(g).sum
    def jobS(p: Seq[Span]) = p.map { s =>
      val inSpan = jobs.filter(j => s.contains(j.startNs))
      Spans.unionNs(inSpan.map(j => (j.startNs, j.endNs)), s.startNs, s.endNs)
    }.sum / 1e9
    Map(
      "spark.driver_s" -> perPass(p => passWallS(p) - jobS(p)),
      "spark.job_s" -> perPass(jobS),
      "spark.catalyst_s" -> perPass(p => sum(p)(_.catalystS)),
      "spark.jobs" -> perPass(p => sum(p)(_.jobs)),
      "spark.stages" -> perPass(p => sum(p)(_.stages)),
      "spark.tasks" -> perPass(p => sum(p)(_.tasks)),
      "spark.shuffle_mb" -> perPass(p => sum(p)(_.shuffleMb)),
      "spark.spill_mb" -> perPass(p => sum(p)(_.spillMb)),
      "spark.gc_s" -> perPass(p => sum(p)(_.gcS)),
      "spark.skew" -> perPass(p => (work(p).map(_.skew) :+ 1.0).max))
  }

  /** Traced over untraced pass wall time, as a percentage above 1. */
  def overheadPct: Double =
    if (tracedPasses.isEmpty || plainPasses.isEmpty) 0.0
    else 100.0 * (Stats.median(tracedPasses.map(passWallS)) /
      Stats.median(plainPasses.map(passWallS)) - 1.0)
}
