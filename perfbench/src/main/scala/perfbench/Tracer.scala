package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span has a name, a
  * detail, start and end (epoch nanoseconds), the span that caused it and
  * the operation it belongs to. Harness spans nest on one thread; spans
  * derived from Spark listener events arrive on other threads with only
  * their interval, and are parented at the end to the innermost harness
  * span that contains their start (listener times have millisecond
  * resolution, hence a millisecond of slack). Nothing is written until
  * `write`. */
final class Tracer private (val enabled: Boolean) {
  final case class Span(id: Int, var parent: Int, var opId: Int, name: String,
      detail: String, startNs: Long, var endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val externals = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1
  @volatile private var selfNanos = 0L
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  private def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  def selfSeconds: Double = selfNanos / 1e9
  def count: Int = synchronized(spans.size + externals.size)

  /** Opens a harness span; returns its id (0 when tracing is off). */
  def open(name: String, detail: String = "", opId: Int = 0): Int =
    if (!enabled) 0 else synchronized {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0),
        if (opId != 0) opId else parent.map(_.opId).getOrElse(0),
        name, detail, now(), 0L)
      nextId += 1
      spans += s
      stack = s :: stack
      selfNanos += System.nanoTime() - t0
      s.id
    }

  def close(id: Int): Unit = if (enabled && id != 0) synchronized {
    val t0 = System.nanoTime()
    stack.find(_.id == id).foreach { s =>
      s.endNs = now()
      stack = stack.dropWhile(_.id != id).drop(1)
    }
    selfNanos += System.nanoTime() - t0
  }

  def span[T](name: String, detail: String = "")(body: => T): T = {
    val id = open(name, detail)
    try body finally close(id)
  }

  /** Records a span reported by a listener, from epoch milliseconds. */
  def external(name: String, detail: String, startMs: Long, endMs: Long): Unit =
    if (enabled) synchronized {
      val t0 = System.nanoTime()
      externals += Span(nextId, 0, 0, name, detail,
        startMs * 1000000L, endMs * 1000000L)
      nextId += 1
      selfNanos += System.nanoTime() - t0
    }

  def addSelfNanos(n: Long): Unit = if (enabled) selfNanos += n

  /** Writes every span as one JSON object per line. */
  def write(file: java.io.File): Unit = if (enabled) synchronized {
    val byStart = spans.sortBy(_.startNs)
    externals.foreach { e =>
      val inner = byStart.filter(s => s.startNs <= e.startNs + 1000000L &&
        (s.endNs == 0L || e.startNs <= s.endNs))
      inner.lastOption.foreach { s => e.parent = s.id; e.opId = s.opId }
    }
    val w = new java.io.PrintWriter(file, "UTF-8")
    try (spans ++ externals).sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "op" -> s.opId, "name" -> s.name, "detail" -> s.detail,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Tracer {
  def apply(enabled: Boolean): Tracer = new Tracer(enabled)
  val off: Tracer = new Tracer(false)
}

/** Minimal JSON rendering for flat records (strings, numbers, booleans,
  * nested sequences and maps). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
