package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span wraps one call into a layer's public function: name, start,
  * end, the enclosing span and the id of the operation (one timed
  * action) it belongs to. Spans are kept in memory and written once
  * when the run ends. A span's self time is its duration minus the time
  * its child spans cover. With tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = 0L

  private var active = enabled

  /** whether spans are being recorded right now. */
  def on: Boolean = active

  /** run `body` with recording off (the untraced comparison runs). */
  def suspend[A](body: => A): A = {
    val was = active
    active = false
    try body
    finally active = was
  }

  /** start a new operation; later spans carry its id. */
  def newOp(): Unit = op += 1

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, start, System.nanoTime())
      }
    }

  /** self seconds per span name, summed over all spans of that name. */
  def selfTimes: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupMapReduce(_.name)(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  def totalTimes: Map[String, Double] =
    spans.groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e9)(_ + _)

  /** write every span plus the per-name self and total times as JSON. */
  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val spanJson = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${s.op},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9}}"""
    }
    val self = selfTimes
    val total = totalTimes
    val byName = self.keys.toSeq.sorted.map { n =>
      s"""${Json.str(n)}:{"self_s":${self(n)},"total_s":${total(n)}}"""
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(s"""{"layers":{${byName.mkString(",")}},""" +
      s""""spans":[${spanJson.mkString(",\n")}]}""")
    finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
                        startNs: Long, endNs: Long)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
