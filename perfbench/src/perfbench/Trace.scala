package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Span log of a traced run: (name, start, end, parent, run id), kept in
  * memory and written once, as JSON lines, when the benchmark ends.
  *
  * Times are microseconds on the wall clock, so spans recorded here and the
  * stage spans the listener reports (epoch milliseconds) share one axis.
  */
final class Trace {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var openIds: List[Int] = Nil
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** The innermost open span, or -1 at top level. */
  def current: Int = openIds.headOption.getOrElse(-1)

  /** Spans opened with `span` nest on the calling (driver) thread. */
  def span[T](name: String, run: String)(f: => T): T = {
    val id = synchronized {
      val i = spans.length
      spans += Span(i, name, nowUs(), -1L, current, run)
      openIds = i :: openIds
      i
    }
    try f
    finally synchronized {
      openIds = openIds.tail
      spans(id) = spans(id).copy(endUs = nowUs())
    }
  }

  /** A span measured elsewhere (a Spark stage), attached under `parent`. */
  def add(name: String, startUs: Long, endUs: Long, parent: Int, run: String): Unit = synchronized {
    spans += Span(spans.length, name, startUs, endUs, parent, run)
  }

  def size: Int = spans.length

  def write(path: Path): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.startUs},""")
        .append(s""""end_us":${s.endUs},"parent":${s.parent},"run":${Json.str(s.run)}}""")
        .append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int, run: String)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}
