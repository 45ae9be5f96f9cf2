package perfbench

/** Minimal JSON for the result file and the feed manifest. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Path => quote(p.toString)
    case other => quote(other.toString)
  }

  private type Path = java.nio.file.Path

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parse one flat JSON object of string and integer values. */
  def parseFlat(line: String): Map[String, Any] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*(\"([^\"]*)\"|-?[0-9]+)".r
    pair.findAllMatchIn(line).map { m =>
      m.group(1) -> (if (m.group(3) != null) m.group(3) else m.group(2).toLong)
    }.toMap
  }
}
