package perfbench

/** Minimal JSON writer for the harness's result files: maps, sequences,
  * numbers, booleans, strings and null. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    s"${str(k)}:${any(v)}" }.mkString("{", ",", "}")

  def any(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => any(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${any(x)}" }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }

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
}
