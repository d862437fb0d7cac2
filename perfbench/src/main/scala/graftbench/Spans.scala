package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed call in a traced run. `parent` is the index of the enclosing
  * span in the recorder's list, or -1 for a root. Times are epoch
  * milliseconds with a fractional part, so they share a clock with Spark's
  * job submission times. */
final case class Span(name: String, parent: Int, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for a single-threaded replay. Spans nest by
  * call structure and are only written out when the run ends. */
final class SpanRecorder {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  // epoch offset for System.nanoTime, fixed once so spans are monotonic
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  def apply[T](name: String)(f: => T): T = {
    val idx = buf.size
    buf += Span(name, stack.headOption.getOrElse(-1), nowMs, Double.NaN)
    stack = idx :: stack
    try f
    finally {
      stack = stack.tail
      buf(idx) = buf(idx).copy(endMs = nowMs)
    }
  }

  def spans: Seq[Span] = buf.toSeq
}

object Spans {

  /** Total length covered by a set of intervals, overlaps counted once. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of span `i`: its duration minus the time its direct
    * children cover, each child clipped to the parent's interval. */
  def selfMs(spans: Seq[Span], i: Int): Double = {
    val p = spans(i)
    val kids = spans.filter(_.parent == i).map(c =>
      (math.max(c.startMs, p.startMs), math.min(c.endMs, p.endMs)))
    p.durMs - unionLength(kids)
  }

  /** Index of the innermost span open at time `tMs` (the latest-starting
    * span that contains it), or -1. */
  def innermostAt(spans: Seq[Span], tMs: Double): Int = {
    var best = -1
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.startMs <= tMs && tMs <= s.endMs &&
          (best < 0 || s.startMs >= spans(best).startMs)) best = i
      i += 1
    }
    best
  }

  def toJsonLines(spans: Seq[Span]): String = spans.zipWithIndex.map { case (s, i) =>
    f"""{"id":$i,"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
      f""""self_ms":${selfMs(spans, i)}%.3f}"""
  }.mkString("", "\n", "\n")
}
