package graftbench

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(r) => r
    case xs: Iterable[_] => arr(xs.toSeq.map(value): _*)
    case other => str(other.toString)
  }

  /** Already-rendered JSON. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(items: String*): String = items.mkString("[", ",", "]")
}
