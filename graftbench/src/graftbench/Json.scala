package graftbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the benchmark's result files (no dependency
  * beyond the JDK). Numbers keep all their digits; non-finite doubles
  * become strings. */
object Json {
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

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp => str(t.toInstant.toString)
    case t: java.time.temporal.Temporal => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case r: Row => r.toSeq.map(apply).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (apply(v) + "\n").getBytes("UTF-8"))
}
