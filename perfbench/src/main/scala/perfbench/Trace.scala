package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. `parent` is the id of the span that caused it
  * (-1 for a root); every span of one run shares `runId`. `external` marks
  * a span measured outside the benchmark's own call stack (a listener
  * callback or a stage hook inside the program). */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long, external: Boolean = false) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once as a JSON document. When disabled, `span` only runs its body,
  * so untraced runs pay no recording cost.
  *
  * The benchmark's own calls nest through [[span]]. Spans measured
  * elsewhere (listener callbacks, stage hooks) arrive through [[record]],
  * possibly late and from another thread; their parent is resolved at the
  * end as the innermost benchmark span that contains their start. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val own = ArrayBuffer.empty[Span]
  private val external = ArrayBuffer.empty[(String, Long, Long)]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val i = own.length
        own += null
        val p = stack.headOption.getOrElse(-1)
        stack = i :: stack
        (i, p)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          own(id) = Span(id, parent, name, runId, t0, t1)
          stack = stack.tail
        }
      }
    }

  /** A span measured outside the benchmark's own call stack. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized(external += ((name, startNs, endNs)))

  /** Every finished span, external ones attached to their parents. */
  def all: Seq[Span] = synchronized {
    val mine = own.filter(_ != null).toSeq
    mine ++ external.zipWithIndex.map { case ((name, s, e), i) =>
      val parent = mine.filter(b => b.startNs <= s && s < b.endNs)
        .sortBy(_.durNs).headOption.map(_.id).getOrElse(-1)
      Span(own.length + i, parent, name, runId, s, e, external = true)
    }
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that the union of its children's intervals covers (children are
    * clipped to the parent, and overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** The share of a span's time that no external span accounts for: the
    * self time of the span and of every span of the benchmark's own below
    * it, over its duration. */
  def unaccounted(spans: Seq[Span], root: Span): Double = {
    val self = selfTimes(spans)
    val children = spans.groupBy(_.parent)
    def own(s: Span): Long =
      self(s.id) + children.getOrElse(s.id, Nil).filterNot(_.external).map(own).sum
    own(root).toDouble / root.durNs
  }

  /** The trace document: every span with its self time, times in
    * seconds relative to the earliest span. */
  def toJson(spans: Seq[Span], extra: Seq[(String, Any)]): String = {
    val self = selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val rows = spans.sortBy(_.id).map { s =>
      Json.Obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> self(s.id) / 1e9, "external" -> s.external)
    }
    Json.obj(extra :+ ("spans" -> rows))
  }
}

/** A small JSON writer for objects, sequences, strings, numbers and
  * booleans. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => obj(o.fields)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
