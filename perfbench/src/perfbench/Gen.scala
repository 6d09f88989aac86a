package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded input generation. Every generated value is a pure function of
  * (seed, salt, key), so the same seed gives the same inputs and the same
  * operation parameters; the operation list of a cycle is fixed. */
final class Gen(val seed: Long) {
  /** A generator for the choices of one cycle or one input set. */
  def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt)

  /** Non-negative pseudo-random value of `x`, distinct per salt (SplitMix64). */
  def mix(salt: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def shuffle[A](salt: Long, xs: Seq[A]): Seq[A] = {
    val r = rng(salt)
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

object Gen {
  /** Order-insensitive digest of a DataFrame's rows, used to prove that two
    * generations with the same seed are identical. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toSeq: _*) % 1000000007L), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
