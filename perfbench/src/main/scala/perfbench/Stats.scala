package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile that leaves at least ten samples above
    * it, with its value (nearest rank); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val n = s.length
      val p = (100 * (n - 10)) / n
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Some(p -> s(rank - 1))
    }
}
