package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed region on the single calling thread. Times are nanoseconds
  * on the wall clock (epoch based), so they line up with the event
  * times Spark's listeners report.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def wallNs: Long = endNs - startNs
  def contains(tNs: Long): Boolean = tNs >= startNs && tNs <= endNs
}

/** In-memory span recorder. Spans nest by call structure: the span
  * opened last and not yet closed is the parent of the next one. Only
  * one thread may open spans (the benchmark is a closed loop with one
  * caller), which is what makes time windows a valid attribution for
  * work that Spark runs on its own threads.
  */
final class Tracer(clock: () => Long = Tracer.wallClockNs) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Int, Long)] = Nil
  private var nextId = 0

  def span[T](name: String, op: Int)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, op, clock()) :: open
    try f
    finally {
      val (_, _, _, start) = open.head
      open = open.tail
      done += Span(id, name, parent, op, start, clock())
    }
  }

  /** Adds a span measured elsewhere (a duration the program reports) as
    * a child of the innermost open span, ending now.
    */
  def record(name: String, op: Int, wallNs: Long): Unit = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val end = clock()
    done += Span(id, name, parent, op, end - wallNs, end)
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {
  private val originWallNs = System.currentTimeMillis() * 1000000L
  private val originMono = System.nanoTime()

  /** Monotonic nanoseconds anchored to the epoch wall clock. */
  def wallClockNs(): Long = originWallNs + (System.nanoTime() - originMono)

  def msToNs(ms: Long): Long = ms * 1000000L
}

/** Arithmetic over a finished span list. */
object Spans {
  /** Wall time minus the wall time of the direct children. */
  def selfNs(spans: Seq[Span], s: Span): Long =
    s.wallNs - spans.filter(_.parent == s.id).map(_.wallNs).sum

  def descendants(spans: Seq[Span], s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id)
    kids ++ kids.flatMap(descendants(spans, _))
  }

  /** The innermost span open at `tNs`: the latest-starting span that
    * contains it (children start no earlier than their parent; ties go
    * to the deeper span, which has the larger id).
    */
  def innermost(spans: Seq[Span], tNs: Long): Option[Span] = {
    val hits = spans.filter(_.contains(tNs))
    if (hits.isEmpty) None
    else Some(hits.maxBy(s => (s.startNs, s.id)))
  }

  /** Groups timestamped items by the innermost span open at their time;
    * items outside every span are dropped.
    */
  def window[A](spans: Seq[Span], items: Seq[A])(timeNs: A => Long): Map[Int, Seq[A]] =
    items.flatMap(a => innermost(spans, timeNs(a)).map(_.id -> a))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Length of the union of intervals, each clipped to [from, to]. */
  def unionNs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def toJson(spans: Seq[Span]): String =
    spans.map(s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""op": ${s.op}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
}
