package perfbench

import scala.collection.mutable

/** One span: a timed call into a layer, linked to the span that caused it.
  * Times are nanoseconds on the JVM's monotonic clock.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Harness-side tracing. Spans are kept in memory and written once when
  * the run ends; with tracing off `span` only runs its body. The harness
  * is single-threaded (one closed-loop caller), so the open-span stack
  * needs no synchronisation.
  */
final class Trace(traced: Boolean, val runId: String) {
  private var on = traced
  def enabled: Boolean = on

  /** Runs `body` with tracing off (untraced comparison rounds, checks). */
  def enabledOff[T](body: => T): T = {
    val prev = on
    on = false
    try body finally on = prev
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        done += Span(id, parent, name, runId, t0, System.nanoTime())
      }
    }

  /** Adds to a named count recorded at a layer boundary; `v` is only
    * computed when tracing is on.
    */
  def count(name: String, v: => Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def spans: Seq[Span] = done.toSeq
  def counters: Map[String, Double] = counts.toMap

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children of one parent never overlap here, the
    * caller being single-threaded).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum
    }
    done.map(s => s.id -> (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9)
      .toMap
  }

  /** Summed self time per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    done.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Summed total (inclusive) time per span name. */
  def totalByName: Map[String, Double] =
    done.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def toJson: String = {
    val self = selfSeconds
    val t0 = done.map(_.start).minOption.getOrElse(0L)
    done.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run_id":${Json.str(s.runId)},"start_s":${Json.num((s.start - t0) / 1e9)},""" +
        s""""end_s":${Json.num((s.end - t0) / 1e9)},"self_s":${Json.num(self(s.id))}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
