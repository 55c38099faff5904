package perfbench

/** Order statistics and interval arithmetic used by the reports. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1] (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the q-quantile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** A tail percentile is reported only when at least `min` samples lie
    * beyond it; otherwise it is noise from a handful of points. */
  def tail(xs: Seq[Double], q: Double, min: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs, q) >= min) Some(quantile(xs, q)) else None

  /** The highest of p99, p95, p90, p75 and p50 with at least `min`
    * samples beyond it, as (quantile, value). */
  def highestTail(xs: Seq[Double], min: Int = 10): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.90, 0.75, 0.5).iterator.flatMap(q => tail(xs, q, min).map(v => (q, v))).nextOption()

  /** Total length covered by the union of half-open intervals [s, e). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of [start, end) not covered by any job interval: the driver
    * gap between and around jobs. Jobs may overlap each other. */
  def gap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
