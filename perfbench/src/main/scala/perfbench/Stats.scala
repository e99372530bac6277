package perfbench

/** Order statistics the metrics are built from. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    require(s.nonEmpty, "median of no samples")
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile that still has at least ten samples above it:
    * (value, percentile, sample count), or None below eleven samples.
    */
  def tail(xs: Iterable[Double]): Option[(Double, Double, Int)] = {
    val s = xs.toVector.sorted
    val k = s.length - 11
    if (k < 0) None else Some((s(k), 100.0 * (k + 1) / s.length, s.length))
  }
}

/** A minimal JSON writer for the result file (numbers, strings, nested
  * maps and sequences).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
