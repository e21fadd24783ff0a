package perfbench

import scala.collection.mutable

/** One timed call into a layer. `parent` is 0 for an operation's root
  * span; `op` is the operation every span of one request shares.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans are
  * recorded only while an operation is traced; otherwise `span` just
  * runs its body.
  */
final class Tracer {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0
  private var on = false

  def begin(opId: Int, traced: Boolean): Unit = { op = opId; on = traced; stack = Nil }
  def end(): Unit = { on = false; stack = Nil }
  def active: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Trace {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (overlapping children are
    * counted once, and child time outside the parent is ignored).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Mean self time in seconds per span name. */
  def meanSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e9 / ss.length
    }
  }

  def toJsonLine(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}
