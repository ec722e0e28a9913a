package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result, following the comparison
  * rules of `tools/compare.py`: columns are taken in name order, rows
  * form a multiset, and numbers are type-tagged (an integer 53 never
  * equals a float 53.0). Floats compare by their exact IEEE-754 bits.
  * `perfbench/oracle_check.py` implements the same encoding in Python
  * so digests can be checked against DuckDB.
  *
  * Encoding of one value:
  *   null -> `n`; boolean -> `b:true`; integral -> `i:<decimal>`;
  *   float/double -> `f:<16 hex digits of the double's bits>` (`f:nan`
  *   for any NaN); decimal -> `d:<scientific string>`; string -> `s:<text>`;
  *   date -> `t:<yyyy-mm-dd>`; timestamp -> `t:<yyyy-mm-ddThh:mm:ss.ffffff>`
  *   in UTC; binary -> `x:<hex>`; array -> `[e1,e2]`; struct -> `{e1,e2}`;
  *   map -> `<k1=v1,k2=v2>` with entries sorted by their encoding.
  * A row is its values joined by U+0001. The digest is SHA-256 over the
  * sorted column names, the row count, and the sum (mod 2^64) of the
  * first eight bytes of each row's SHA-256.
  */
object Digest {

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def encode(v: Any): String = v match {
    case null => "n"
    case b: Boolean => s"b:$b"
    case x @ (_: Byte | _: Short | _: Int | _: Long) => s"i:$x"
    case f: Float => encodeDouble(f.toDouble)
    case d: Double => encodeDouble(d)
    case d: java.math.BigDecimal => "d:" + d.toString
    case d: scala.math.BigDecimal => "d:" + d.bigDecimal.toString
    case s: String => "s:" + s
    case d: java.sql.Date => "t:" + d.toLocalDate.toString
    case d: java.time.LocalDate => "t:" + d.toString
    case t: java.sql.Timestamp => "t:" + tsFormat.format(t.toInstant)
    case t: java.time.Instant => "t:" + tsFormat.format(t)
    case t: java.time.LocalDateTime => "t:" + tsFormat.format(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "x:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(encode).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => encode(k) + "=" + encode(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case other => "s:" + other.toString
  }

  private def encodeDouble(d: Double): String =
    if (d.isNaN) "f:nan"
    else f"f:${java.lang.Double.doubleToRawLongBits(d)}%016x"

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  /** Digest of rows given in `columns` order. */
  def digest(columns: Seq[String], rows: Iterator[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => encode(r.get(i))).mkString("\u0001")
      sum += java.nio.ByteBuffer.wrap(sha(line), 0, 8).getLong
      n += 1
    }
    val header = order.map(columns(_)).mkString(",")
    val hex = sha(s"$header|$n|${java.lang.Long.toUnsignedString(sum)}")
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    (n, hex)
  }

  def of(df: DataFrame): (Long, String) =
    digest(df.columns.toSeq, df.collect().iterator)
}
