package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the run's result and check dumps. Doubles
  * are written with Java's round-trip `toString`, so a reader parses
  * back the very same double.
  */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
      else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case r: Row => arr(r.toSeq)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: scala.collection.Seq[_] => arr(s.toSeq)
    case a: Array[_] => arr(a.toSeq)
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ", ", "]")

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
    b += '"'
    b.toString
  }
}
