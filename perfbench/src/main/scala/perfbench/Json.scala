package perfbench

/** Minimal JSON writing and string-array reading: the harness emits flat
  * records and reads back one shape, the gateway's `"result":[...]` array.
  */
object Json {
  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case Raw(j) => j
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** The string elements of the array that follows `"result":` in a gateway
    * body; None when the body is not a complete document of that shape (a
    * truncated chunked stream ends without its closing `]}`).
    */
  def resultArray(body: String): Option[Vector[String]] = {
    val key = "\"result\":["
    val at = body.indexOf(key)
    if (at < 0) return None
    var i = at + key.length
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    def fail = None
    while (i < body.length) {
      body.charAt(i) match {
        case ']' =>
          return if (body.substring(i + 1).trim == "}") Some(out.result()) else fail
        case ',' => i += 1
        case '"' =>
          sb.clear(); i += 1
          var closed = false
          while (!closed && i < body.length) {
            val c = body.charAt(i)
            if (c == '"') { closed = true; i += 1 }
            else if (c == '\\' && i + 1 < body.length) {
              body.charAt(i + 1) match {
                case 'n' => sb.append('\n'); i += 2
                case 'r' => sb.append('\r'); i += 2
                case 't' => sb.append('\t'); i += 2
                case 'b' => sb.append('\b'); i += 2
                case 'f' => sb.append('\f'); i += 2
                case 'u' if i + 5 < body.length =>
                  sb.append(Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar); i += 6
                case other => sb.append(other); i += 2
              }
            } else { sb.append(c); i += 1 }
          }
          if (!closed) return fail
          out += sb.toString
        case _ => return fail
      }
    }
    fail
  }
}
