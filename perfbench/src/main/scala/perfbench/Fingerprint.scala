package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a result: the row count plus the
  * wrapping sum of one 64-bit hash per row. Each row hashes its
  * columns sorted by name, so column order and row order do not
  * matter, but every value, every duplicate row and every column name
  * does. The generator hashes its expected rows with the same
  * function, so a route's Parquet read back can be compared with what
  * the generator meant to send.
  */
object Fingerprint {

  final case class Print(rows: Long, hash: String)

  /** A struct value built outside Spark; renders like a struct [[Row]]. */
  final case class Struct(fields: Seq[(String, Any)])

  /** Canonical text of one value. Integral widths collapse to one tag
    * (a bigint read back as int is the same value); doubles keep all
    * their digits.
    */
  def render(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => s"s${s.length}:$s"
    case b: Boolean                 => s"b$b"
    case n: Long                    => s"i$n"
    case n: Int                     => s"i$n"
    case n: Short                   => s"i$n"
    case n: Byte                    => s"i$n"
    case d: Double                  => s"d${java.lang.Double.toString(d)}"
    case f: Float                   => s"f${java.lang.Float.toString(f)}"
    case d: java.math.BigDecimal    => s"n${d.stripTrailingZeros.toPlainString}"
    case t: java.sql.Timestamp      => s"t${t.toInstant}"
    case d: java.sql.Date           => s"D$d"
    case t: java.time.LocalDateTime => s"T$t"
    case a: Array[Byte]             => a.map(b => f"${b & 0xff}%02x").mkString("x", "", "")
    case Struct(kvs)                => fields(kvs)
    case r: Row                     => fields(r.schema.fieldNames.toSeq.zip(r.toSeq))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}>${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other                      => s"?$other"
  }

  private def fields(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, x) => s"$k=${render(x)}" }.sorted.mkString("{", ",", "}")

  /** 64-bit hash of one row given as (column, value) pairs. */
  def rowHash(kvs: Seq[(String, Any)]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(fields(kvs).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def ofPairs(rows: Iterator[Seq[(String, Any)]]): Print = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Print(n, f"$sum%016x")
  }

  def ofRows(rows: Iterator[Row]): Print =
    ofPairs(rows.map(r => r.schema.fieldNames.toSeq.zip(r.toSeq)))
}
