package perfbench

import scala.collection.mutable

/** One span: a timed call at a layer boundary. `layer` is the repo
 * module whose public call the span wraps (tables, entry, loop, plan,
 * exec, rule, sinks, trigger, …); `parent` is the enclosing span's id,
 * or -1. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startUs: Long, endUs: Long, counts: Map[String, Double]) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** In-memory span recorder. Spans are kept until the end of the run and
 * written once. With `enabled = false` every call is a plain pass-through,
 * so untraced runs pay nothing. [[span]] nests on one stack and is called
 * from the main thread only; [[recordAt]] may be called from any thread. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowUs
      try body
      finally {
        stack = stack.tail
        val s = Span(id, parent, layer, name, t0, Clock.nowUs, Map.empty)
        synchronized { spans += s }
      }
    }

  /** Record a span measured elsewhere (a Spark job's range) under the
   * innermost open span. */
  def record(layer: String, name: String, startUs: Long, endUs: Long): Unit =
    recordAt(stack.headOption.getOrElse(-1), layer, name, startUs, endUs)

  /** Record a span measured elsewhere under an explicit parent (-1 for
   * none); returns its id. */
  def recordAt(parent: Int, layer: String, name: String, startUs: Long, endUs: Long): Int =
    synchronized {
      val id = nextId; nextId += 1
      if (enabled) spans += Span(id, parent, layer, name, startUs, endUs, Map.empty)
      id
    }

  /** Attach counts to the most recent span with this name. */
  def annotate(name: String, counts: Map[String, Double]): Unit =
    if (enabled) synchronized {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(counts = spans(i).counts ++ counts)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer in ms: each span's duration minus the part of
   * its interval that its children cover, summed by layer. */
  def selfMsByLayer: Map[String, Double] = Trace.selfMsByLayer(all)

  def toJson: String = all.map { s =>
    val counts = s.counts.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"counts":$counts}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredUs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        (s.endUs - s.startUs - coveredUs(kids, s.startUs, s.endUs)) / 1000.0
      }.sum
    }
  }
}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit as measured; non-finite values have no JSON form. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }
}
