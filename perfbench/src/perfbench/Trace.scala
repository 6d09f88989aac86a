package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed operation of the measured loop. `cls` is the class the
  * end-to-end metrics group by: read, plan, commit or maintenance. */
final case class OpRecord(id: Int, kind: String, cls: String, t0: Long, t1: Long,
    ok: Boolean, error: String, traced: Boolean, rowsWritten: Long)

/** A span at a call from the benchmark into one layer of the program. */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

/** A count taken at a layer boundary, attributed to one operation. */
final case class Counter(op: Int, name: String, value: Double)

/** Holds every span and counter in memory; written out once at the end of
  * the run so that tracing does no I/O while operations are timed. */
final class Recorder {
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  val counters = ArrayBuffer.empty[Counter]
  private var nextSpan = 1
  private var stack: List[Int] = Nil
  /** Operation the current spans and counters belong to (-1: none). */
  var op: Int = -1
  /** Whether the current operation is traced. */
  var on: Boolean = false
  /** Origin of every recorded time (nanoseconds). */
  var base: Long = 0L

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0 - base, t1 - base)
      }
    }

  def count(name: String, value: Double): Unit =
    if (on) counters += Counter(op, name, value)
}

/** Minimal JSON writer for the raw result file (values: numbers, strings,
  * booleans, null, Seq and Map). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb.append(',')
          first = false
          str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case it: Iterable[_] =>
        sb.append('[')
        var first = true
        it.foreach { y => if (!first) sb.append(','); first = false; go(y) }
        sb.append(']')
      case p: Product if p.productArity > 0 =>
        go(p.productElementNames.zip(p.productIterator).toSeq.toMap)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
