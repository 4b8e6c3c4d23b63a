package graftbench

import org.apache.spark.sql.Row

/**
 * Order-insensitive result fingerprint: row count plus the 64-bit sum of a hash of
 * each row's canonical text. Summing (rather than xor-ing) keeps duplicate rows
 * significant, so the fingerprint identifies the result multiset.
 */
object Fingerprint {
  def apply(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    f"${rows.length}:$sum%016x"
  }

  private def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0b4e1b2d)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Canonical text of a value: byte arrays as hex and maps in key order, so the
    * text never depends on object identity or hash-map iteration order. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }
}
