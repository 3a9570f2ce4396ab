package graftbench

/** Minimal JSON writer for the result line and the span file. */
object Json {
  /** An object with its fields in the given order. */
  final case class Obj(fields: Seq[(String, Any)])

  def value(v: Any): String = v match {
    case o: Obj => obj(o.fields)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => d.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
