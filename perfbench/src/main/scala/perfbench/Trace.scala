package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span has a name, start, end (epoch ns) and
  * the span that caused it; all spans of one run share the run's id.
  * Written as JSON once, when the run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val spans = ArrayBuffer.empty[Span]
  private var next = 0

  /** Epoch nanoseconds, so spans line up with Spark's millisecond events. */
  def now(): Long = System.currentTimeMillis() * 1000000L + System.nanoTime() % 1000000L

  def add(parent: Int, name: String, start: Long, end: Long,
          attrs: Map[String, String] = Map.empty): Int = synchronized {
    next += 1
    if (enabled) spans += Span(next, parent, name, start, end, attrs)
    next
  }

  def write(path: java.nio.file.Path, run: String): Unit = {
    def esc(s: String) = Json.str(s)
    val body = spans.map { s =>
      val a = s.attrs.map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("{", ",", "}")
      s"""{"run":${esc(run)},"id":${s.id},"parent":${s.parent},"name":${esc(s.name)},"start_ns":${s.start},"end_ns":${s.end},"attrs":$a}"""
    }
    java.nio.file.Files.writeString(path, body.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                        attrs: Map[String, String])
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
