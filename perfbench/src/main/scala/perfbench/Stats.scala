package perfbench

/** Order statistics and the small JSON writer the harness reports with. */
object Stats {

  /** Quartiles by the "exclusive" method of Python's
    * `statistics.quantiles(values, n=4)`, so the JVM and Python-side
    * tooling compute the same q1/median/q3. A single sample is its own
    * quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    s.length match {
      case 0 => (Double.NaN, Double.NaN, Double.NaN)
      case 1 => (s(0), s(0), s(0))
      case n =>
        def q(i: Int): Double = {
          val m = n + 1
          val j = math.min(math.max(i * m / 4, 1), n - 1)
          val delta = i * m - j * 4
          (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
        }
        (q(1), q(2), q(3))
    }
  }

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** A reported metric: median plus the quartiles and sample count. */
  final case class Metric(value: Double, unit: String,
      q1: Double, q3: Double, n: Int)

  def metric(unit: String, xs: Seq[Double]): Metric = {
    val (a, b, c) = quartiles(xs)
    Metric(b, unit, a, c, xs.length)
  }

  def scalar(unit: String, v: Double): Metric = Metric(v, unit, v, v, 1)

  // ---- JSON ----

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def metricJson(m: Metric): String = obj(Seq(
    "value" -> num(m.value), "unit" -> str(m.unit),
    "q1" -> num(m.q1), "q3" -> num(m.q3), "n" -> m.n.toString))
}
