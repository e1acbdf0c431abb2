package perfbench

import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Minimal JSON writer. Result values use one canonical text form per type
  * so the checker can compare them with the DuckDB reference exactly:
  * doubles in their round-trip decimal form, floats widened to double,
  * timestamps as `yyyy-MM-dd HH:mm:ss.SSSSSS`, dates as ISO.
  */
object Json {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else java.lang.Double.toString(d)

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case t: java.sql.Timestamp => str(t.toLocalDateTime.format(tsFmt))
    case t: java.time.LocalDateTime => str(t.format(tsFmt))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case s: scala.collection.Iterable[_] => arr(s.map(value))
    case other => str(other.toString)
  }

  /** Columns sorted by name, rows in result order. */
  def rows(columns: Seq[String], data: Array[Row]): (Seq[String], String) = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val body = data.iterator.map(r => arr(order.map { case (_, i) => value(r.get(i)) }))
      .mkString("[", ",", "]")
    (order.map(_._1), body)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
