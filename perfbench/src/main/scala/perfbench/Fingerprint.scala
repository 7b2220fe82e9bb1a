package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** An output check that ignores row order and partitioning: the row count
  * plus the sum (mod 2^64) of a 64-bit hash of each row's canonical text. A
  * sum keeps duplicate rows significant, unlike a set. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {

  def of(rows: Iterable[Row]): Fingerprint = {
    var n = 0L
    var acc = 0L
    rows.foreach { r => n += 1; acc += rowHash(r) }
    Fingerprint(n, f"$acc%016x")
  }

  def rowHash(r: Row): Long = {
    val bytes = canon(r).getBytes(UTF_8)
    (MurmurHash3.bytesHash(bytes, 0x5eed).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 0x0b5e55ed).toLong & 0xffffffffL)
  }

  /** Canonical text of a value: -0.0 folds into 0.0, maps sort by key text,
    * binary prints as hex, instants print in UTC. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case x => x.toString
  }
}
