package graftbench

/** Minimal JSON rendering for the harness's result file. Values are
  * rendered already: strings through [[str]], numbers as-is. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.text
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case other => str(other.toString)
  }

  /** Already-rendered JSON text. */
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def arr(xs: Any*): Raw = Raw(xs.map(render).mkString("[", ",", "]"))
}
