package perfbench

/** A timing as the benchmark reports it: the median, the highest whole
  * percentile that still has at least ten samples above it (none when
  * there are too few samples for a tail), and the sample count. */
final case class Summary(n: Int, median: Double, tailPct: Option[Int],
                         tail: Option[Double]) {
  def json: Map[String, Any] = Map("n" -> n, "median" -> median,
    "tail_pct" -> tailPct, "tail" -> tail)
}

object Stats {

  /** Linear-interpolated quantile of sorted values (q in [0, 1]). */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
    val pos = q * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  def summary(xs: Seq[Double]): Summary = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val pct = math.floor(100.0 * (1.0 - 10.0 / n)).toInt
    val tailPct = if (n >= 20 && pct > 50) Some(pct) else None
    Summary(n, quantile(s, 0.5), tailPct, tailPct.map(p => quantile(s, p / 100.0)))
  }
}

/** Minimal JSON encoder for the artifact and the result line. `None`
  * and non-finite numbers encode as `null`, so a failed measurement is
  * never mistaken for a value. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: BigDecimal => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
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
