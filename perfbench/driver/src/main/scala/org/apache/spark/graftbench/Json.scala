package org.apache.spark.graftbench

import org.apache.spark.sql.Row

/** The little JSON the driver writes: result records and output rows. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case o => quote(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => quote(k) + ":" + value(x) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
