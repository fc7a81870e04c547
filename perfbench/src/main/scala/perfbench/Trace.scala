package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the enclosing span's id (-1 for
  * an op's root span); spans of one op share `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out when the run ends. Disabled, it
  * records nothing and `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)] // (id, name, startNs)
  private var nextId = 0
  private var op = -1
  private var on = enabled

  /** Start recording op `id`; `traced = false` records nothing for it. */
  def beginOp(id: Int, traced: Boolean): Unit = { op = id; on = enabled && traced }
  def tracing: Boolean = on

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, name, parent, op, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Trace {
  /** Self time per span: its duration minus the part of its interval that
    * its children cover (children may overlap each other; each instant of
    * the parent counts once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of a set of possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self milliseconds per span name, summed within each op, as per-op
    * samples: name -> one value per op that recorded the name.
    */
  def selfMsPerOp(spans: Seq[Span]): Map[String, Seq[Double]] = {
    val self = selfNs(spans)
    spans.groupBy(s => (s.name, s.op)).toSeq
      .map { case ((name, _), ss) => name -> ss.map(s => self(s.id)).sum / 1e6 }
      .groupMap(_._1)(_._2)
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = {
    val self = selfNs(spans)
    spans.iterator.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
  }
}
