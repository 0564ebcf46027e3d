package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is opened by the benchmark around one call into a layer; its
  * parent is the span open on the same thread, and it carries the id
  * of the operation (flush, query, registry entry) it belongs to.
  * Counters are recorded next to the spans, at the same boundaries.
  * While `active` is off `span` only runs its body and `count` is a
  * no-op, so untraced ops pay nothing for them. A traced run (`traced`)
  * switches `active` on for every other measured op of each kind, so it
  * can also report the tracing overhead: traced minus untraced op time.
  */
final class Trace(val traced: Boolean) {
  import Trace.Span
  var active: Boolean = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var currentOp = ""
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** Run `body` as operation `op`: spans opened inside carry its id. */
  def op[T](id: String)(body: => T): T = {
    val prev = currentOp
    currentOp = id
    try body finally currentOp = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.length, name, currentOp,
        stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      try body
      finally { s.endNs = System.nanoTime(); stack.pop() }
    }

  def count(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  def max(name: String, v: Double): Unit =
    if (traced) counters(name) = math.max(counters.getOrElse(name, v), v)

  /** Total and self seconds per span name. Self time is the span's
    * duration minus the part of it its child spans cover; children of
    * one parent run on the parent's thread, so they never overlap. */
  def busyAndSelf: Map[String, (Double, Double)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      n -> (total / 1e9, self / 1e9)
    }
  }

  /** Share of the wall time of spans named `root` that the layer spans
    * inside them account for by their self times. Counter collection
    * (spans named [[Trace.CounterSpan]]) is left out of both sides. */
  def layerShare(root: String): Double = {
    val roots = spans.filter(_.name == root)
    if (roots.isEmpty) return 0.0
    val byParent = spans.groupBy(_.parent)
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    def dur(s: Span): Long = s.endNs - s.startNs
    def below(id: Int): (Long, Long) = byParent.getOrElse(id, Nil).map { c =>
      if (c.name == Trace.CounterSpan) (0L, dur(c))
      else { val (l, k) = below(c.id); (dur(c) - childNs(c.id) + l, k) }
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    val parts = roots.map(r => below(r.id))
    val wall = roots.map(dur).sum - parts.map(_._2).sum
    parts.map(_._1).sum.toDouble / wall
  }

  /** Spans as JSON lines: name, start, end (ns), parent, op id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","op":"${s.op}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  /** Span around the benchmark's own counter collection in traced ops. */
  val CounterSpan = "trace.counters"

  final case class Span(id: Int, name: String, op: String, parent: Int,
                        startNs: Long, var endNs: Long)
}
