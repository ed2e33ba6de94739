package sparkbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a collected result: the sum, modulo 2^64,
  * of a 64-bit hash of each row's canonical text. Equal multisets of rows
  * give equal digests whatever order they arrive in. Floating-point values
  * are written with 9 significant digits, so a last-bit difference in a
  * sum accumulated in another order does not change the digest. */
object Digest {

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  def of(rows: Seq[Row]): String =
    f"${rows.foldLeft(0L)((acc, r) => acc + hash64(canonical(r)))}%016x"
}
