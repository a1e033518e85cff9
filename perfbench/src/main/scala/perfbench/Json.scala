package perfbench

/** The little JSON the benchmark writes: flat objects of numbers and
  * strings, and one level of nesting. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A number with all its digits (a NaN or infinity is written as null). */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def str(s: String): String = "\"" + esc(s) + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** `{"name": {"value": v, "unit": u}, ...}` */
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

final case class Metric(name: String, value: Double, unit: String)
