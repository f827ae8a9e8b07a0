package perfbench

/** Minimal JSON writer for the raw-sample file (values are numbers,
  * booleans, strings, arrays and objects only). */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def bool(v: Boolean): String = v.toString
  def str(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
