package graft.io

/** The one JSON writer of every artifact (Verify's oracle dump, Bench's
  * bench.json, MedianBench's medians, IndexStore's meta files). `str` is
  * the one string escape: backslash, quote, and ALL control chars (<0x20)
  * — a tab or CR in builder-authored SQL would otherwise make a
  * consumer's json.load fail. One implementation so an escaping fix can
  * never land in one artifact and miss another. */
object Jsons {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of `fields`, in their order. */
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** `v` as JSON: `None`/null → null, `Some(x)` → x, a string, a map →
    * an object (its iteration order), any other collection → an array,
    * anything else (numbers, booleans) → its `toString`. */
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => x.toString
  }
}
