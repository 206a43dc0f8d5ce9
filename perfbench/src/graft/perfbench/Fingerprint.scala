package graft.perfbench

import java.math.MathContext

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a result: the row count plus the sum,
  * modulo 2^64, of a 64-bit hash of each row's canonical text. Summing
  * makes the fingerprint independent of row order and of how rows were
  * split over partitions, while still telling multisets apart.
  *
  * Doubles are rounded to 12 significant digits before hashing, so a
  * last-bit difference from a changed summation order does not count as a
  * wrong result; anything coarser does.
  */
object Fingerprint {
  private val mc = new MathContext(12)

  def canonical(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toString
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** "<rows>:<hex sum>" over the canonical text of each item. */
  def of(items: Iterator[Any]): String = {
    var n = 0L
    var sum = 0L
    items.foreach { r => n += 1; sum += hash64(canonical(r)) }
    f"$n:$sum%016x"
  }
}
