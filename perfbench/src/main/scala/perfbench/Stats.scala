package perfbench

/** Order statistics for the report. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between order
    * statistics (Python's `statistics.quantiles(..., method="inclusive")`
    * convention). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentile levels a tail is chosen from, highest last. */
  val TailLevels: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The tail: the highest level in [[TailLevels]] with at least ten
    * samples strictly beyond it, as (level, value, samples beyond). None
    * when even the median has fewer than ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    TailLevels.reverse.iterator.map { p =>
      val v = percentile(xs, p)
      (p, v, xs.count(_ > v))
    }.find(_._3 >= 10)
}

/** A minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(value)
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
