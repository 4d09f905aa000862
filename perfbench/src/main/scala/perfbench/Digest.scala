package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, computed identically by
  * `oracle.py` over DuckDB rows: columns sorted by name, every value
  * rendered canonically (integers in decimal, floating values and decimals
  * as the hex bits of the nearest double, timestamps as epoch micros in
  * UTC), rows sorted, SHA-1 over the lot. Equal digests mean the same
  * multiset of rows — the exact-match rule of `tools/check_oracle.py`.
  */
object Digest {

  def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == 0.0) "0" // folds -0.0
    else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def micros(epochSecond: Long, nano: Int): String =
    (epochSecond * 1000000L + nano / 1000).toString

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => double(x.doubleValue)
    case x: scala.math.BigDecimal => double(x.toDouble)
    case x: String => x
    case x: java.sql.Timestamp => val i = x.toInstant; micros(i.getEpochSecond, i.getNano)
    case x: java.time.Instant => micros(x.getEpochSecond, x.getNano)
    case x: java.time.LocalDateTime =>
      micros(x.toEpochSecond(java.time.ZoneOffset.UTC), x.getNano)
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => x.toSeq.map(value).mkString("(", ",", ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + ":" + value(w) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x: Array[_] => x.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  /** (digest, row count) of `rows` with column names `columns`. */
  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-1")
    md.update(order.map(columns(_)).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update("\n".getBytes(StandardCharsets.UTF_8))
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
