package perfbench

/** Minimal JSON writer: values are passed already rendered. */
object Json {
  def str(s: String): String = "\"" + graft.util.JsonText.escape(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
