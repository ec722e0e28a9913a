package perfbench

/** Minimal JSON writer for the result line and the side file. Accepts
  * maps (keys in insertion order), sequences, strings, numbers, booleans
  * and null.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    put(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      s.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb += ','
        put(sb, x)
      }
      sb += ']'
    case other => str(sb, other.toString)
  }

  /** Ordered map literal. */
  def obj(kv: (String, Any)*): scala.collection.mutable.LinkedHashMap[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}
