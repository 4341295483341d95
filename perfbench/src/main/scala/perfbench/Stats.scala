package perfbench

/** The arithmetic the benchmark reports with. Pure, so the specs can pin it. */
object Stats {

  /** The `q`-quantile (0 ≤ q ≤ 1) of `xs` by linear interpolation between
    * closest ranks (the "R-7" rule numpy uses by default): q = 0.5 is the
    * median, q = 0.9 the 90th percentile.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Ops that threw or returned a wrong result, as a share of ops attempted. */
  def failRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "fail ratio needs at least one attempted op")
    require(failed >= 0 && failed <= attempted, s"failed=$failed outside [0, $attempted]")
    failed.toDouble / attempted
  }
}
