package perfbench

import org.apache.spark.sql.Row

/** A wrong answer: the operation completed but its result differs from the
  * expected one. Counted as a failed operation, never swallowed. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** Answer comparison. Expected answers never come through graft: they come
  * from the ingest model or from the dedup generator's planted pairs. */
object Check {
  /** Doubles are compared with a relative tolerance: sums of doubles
    * depend on the order rows are added in, which differs between routes. */
  private val RelTol = 1e-9

  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => other
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def sortKey(r: Seq[Any]): String = r.map {
    case d: Double => f"$d%.6e"
    case x => String.valueOf(x)
  }.mkString("\u0001")

  /** Rows equal as multisets (order-insensitive). */
  def rows(label: String, got: Seq[Row], expected: Seq[Row]): Unit = {
    val g = got.map(r => r.toSeq.map(norm)).sortBy(sortKey)
    val e = expected.map(r => r.toSeq.map(norm)).sortBy(sortKey)
    if (g.length != e.length)
      throw new WrongAnswer(s"$label: ${g.length} rows, expected ${e.length}")
    g.zip(e).find { case (x, y) => !same(x, y) }.foreach { case (x, y) =>
      throw new WrongAnswer(s"$label: row $x, expected $y")
    }
  }

  def equal(label: String, got: Any, expected: Any): Unit =
    if (!same(norm(got), norm(expected)))
      throw new WrongAnswer(s"$label: got $got, expected $expected")

  def atLeast(label: String, got: Long, floor: Long): Unit =
    if (got < floor) throw new WrongAnswer(s"$label: got $got, expected at least $floor")

  /** Pairs found by a near-duplicate search against the planted pairs:
    * every planted pair must be found, and nothing else (unplanted
    * documents share no word 3-gram by construction). */
  def pairs(label: String, found: Set[(Long, Long)], planted: Set[(Long, Long)]): Unit = {
    val missing = planted -- found
    if (missing.nonEmpty)
      throw new WrongAnswer(s"$label: missed ${missing.size} of ${planted.size} planted pairs, e.g. ${missing.head}")
    val extra = found -- planted
    if (extra.nonEmpty)
      throw new WrongAnswer(s"$label: ${extra.size} unplanted pairs, e.g. ${extra.head}")
  }
}
