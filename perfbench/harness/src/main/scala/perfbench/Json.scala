package perfbench

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(json: String)
}
