package perfbench

/** Summary statistics for the per-pass samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartiles, computed as Python's
    * `statistics.quantiles(xs, n=4)` (the default "exclusive" method),
    * so spreads read the same here and in the acceptance scripts.
    */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val ld = s.length
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (cut(1), cut(3))
  }

  /** Nearest-rank percentile `p` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"bad percentile $p of ${xs.length}")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }
}
