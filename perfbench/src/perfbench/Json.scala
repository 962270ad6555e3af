package perfbench

/** Just enough JSON to write the harness's result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case r: RawJson => r.text
    case s: String => graft.core.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => graft.core.Json.quote(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => graft.core.Json.quote(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    value(collection.immutable.ListMap(kv: _*))
}
