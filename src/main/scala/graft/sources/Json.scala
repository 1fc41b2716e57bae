package graft.sources

import java.util.Base64

import org.apache.avro.generic.GenericFixed

/** Minimal JSON renderer for connector outputs (inverse of
  * `graft.config.Parsers.flatJson`). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case '\r' => "\\r"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case m: Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double =>
      if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    case f: Float => render(f.toDouble)
    // base64, as Spark's to_json writes binary and from_json reads it
    case b: Array[Byte] => render(Base64.getEncoder.encodeToString(b))
    case f: GenericFixed => render(f.bytes())
    case other => render(other.toString)
  }
}
