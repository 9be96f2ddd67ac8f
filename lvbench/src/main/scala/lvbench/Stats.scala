package lvbench

object Stats {

  /** Linear-interpolated percentile `p` in [0, 1], reported only when
    * at least ten samples lie strictly beyond it on each side. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val pos = p * (n - 1)
    val lo = pos.toInt
    val below = math.ceil(pos).toInt // samples at ranks < pos
    val above = n - 1 - lo           // samples at ranks > pos
    if (n == 0 || math.min(below, above) < 10) None
    else {
      val s = xs.sorted
      val hi = math.min(lo + 1, n - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  }

  /** The median of a handful of repeats, where the ten-beyond rule
    * does not apply (set-up repeats, per-layer probes). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
