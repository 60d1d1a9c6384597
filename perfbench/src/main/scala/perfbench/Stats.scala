package perfbench

/** Order statistics and the one-line JSON the harness prints. */
object Stats {

  /** Nearest-rank percentile `p` (1..100) of `xs`; NaN when empty. */
  def pct(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
    }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile up to `target` that still has at least
    * `minTail` samples strictly above its nearest rank, as (p, value). A
    * tail read off fewer samples than that is one outlier wide, so a short
    * run reports a lower percentile rather than a noisy one; when even p50
    * lacks the samples, it reports the median (p = 50). */
  def tailPct(xs: Seq[Double], target: Int, minTail: Int = 10): (Int, Double) = {
    val n = xs.length
    (target to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= minTail) match {
      case Some(p) => (p, pct(xs, p))
      case None => (50, median(xs))
    }
  }

  def ms(ns: Long): Double = ns / 1e6

  // ---- JSON (flat objects of numbers, strings, booleans, nested maps) ----

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
