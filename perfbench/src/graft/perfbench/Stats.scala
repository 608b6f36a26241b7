package graft.perfbench

/** Small summary helpers for per-layer numbers. End-to-end percentiles are
  * computed from the raw operation log by `perfbench/stats.py`.
  */
object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile: the smallest value with at least p% of the
    * sample at or below it. Matches `stats.percentile` on the Python side.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.max(rank, 1) - 1)
    }

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def timeMs[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }
}
