package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the harness's own spans line up with Spark's listener timestamps
  * (which are epoch milliseconds). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def gcMs(): Long = {
    var total = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      val t = b.getCollectionTime
      if (t > 0) total += t
    }
    total
  }
}

/** One traced interval. Spans of one operation share `trace`; `parent`
  * is 0 for an operation's root span. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span buffer, written out as JSONL when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(trace: Long, parent: Long, name: String, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty, id: Long = -1L): Long = synchronized {
    val sid = if (id > 0) id else { nextId += 1; nextId }
    spans += Span(trace, sid, parent, name, start, end, attrs)
    sid
  }

  def size: Int = synchronized(spans.size)

  def writeJsonl(path: Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      val m = Map[String, Any]("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs
      sb.append(Json.obj(m)).append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
