package perfbench

/** Percentiles that the sample supports. A percentile is reported only
  * when at least [[MinBeyond]] samples lie above its rank, so a p90
  * needs at least 100 samples and a median at least 20. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 1), or None when fewer than
    * [[MinBeyond]] samples lie beyond it. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0.0 && q < 1.0, s"percentile must lie in (0, 1), got $q")
    val n = xs.size
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
    if (n == 0 || n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Plain median, for figures that need no tail support. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
