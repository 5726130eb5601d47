package perfbench

/** A rendered JSON value; enough of JSON for the benchmark's artifacts. */
final case class Json(rendered: String) {
  override def toString: String = rendered
}

object Json {
  def obj(fields: (String, Any)*): Json =
    Json(fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def arr(items: Any*): Json = Json(items.map(render).mkString("[", ",", "]"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case j: Json => j.rendered
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case d: java.sql.Date => str(d.toString)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).rendered
    case s: Iterable[_] => arr(s.toSeq: _*).rendered
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
