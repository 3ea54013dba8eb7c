package graft.perfbench

/** Minimal JSON encoder for the harness's raw result file. */
object Json {
  type Obj = Map[String, Any]

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => encode(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
