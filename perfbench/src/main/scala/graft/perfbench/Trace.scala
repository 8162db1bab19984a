package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the benchmark's own output (flat values,
  * nested maps and sequences). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/**
 * In-memory spans around the benchmark's calls into each layer. A span is
 * (id, parent, name, start, end) with nanosecond times relative to the
 * first span; Spark stages are added by [[TaskStats]] with the span that
 * was open when their job started as parent. Spans are only kept when
 * tracing is on, and written out once, at the end of the run.
 */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
      attrs: Map[String, Any])

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 is the root: the run itself
  private var nextId = 1

  def current: Int = synchronized(stack.head)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val p = stack.head; stack = id :: stack
      (id, p)
    }
    val start = System.nanoTime() - t0
    try body
    finally synchronized {
      stack = stack.tail
      spans += Span(id, parent, name, start, System.nanoTime() - t0, attrs)
    }
  }

  /** A span whose times were measured elsewhere (e.g. a Spark stage). */
  def record(parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any]): Unit = if (enabled) synchronized {
    spans += Span(nextId, parent, name, startNs - t0, endNs - t0, attrs)
    nextId += 1
  }

  def write(path: String, header: Map[String, Any]): Unit = if (enabled) {
    val body = synchronized(spans.sortBy(_.start).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs)
    })
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (Json.render(header).dropRight(1) + ",\"spans\":[\n" +
      body.mkString(",\n") + "\n]}\n").getBytes(StandardCharsets.UTF_8))
  }
}
