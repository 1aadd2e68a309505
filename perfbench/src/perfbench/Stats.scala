package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** The tail sample: the value at the highest percentile that still has
    * at least ten samples beyond it — the eleventh largest — and the
    * share of samples at or below it. With fewer than eleven samples no
    * percentile qualifies, and the tail is the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.size < 11) (s.last, 1.0)
    else (s(s.size - 11), (s.size - 10).toDouble / s.size)
  }
}
