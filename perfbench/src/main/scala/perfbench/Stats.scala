package perfbench

/** Order statistics and interval arithmetic behind the reported metrics. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (p / 100.0) * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The tail percentile reported for `n` samples: the highest whole
    * percentile `p` that leaves at least ten samples above it under
    * [[percentile]]'s interpolation, i.e. the largest `p` with
    * `p * (n - 1) < 100 * (n - 10)`. Below 20 samples no percentile from
    * the median up qualifies, so the tail is reported at the median (p50).
    */
  def tailPercentile(n: Int): Int =
    if (n < 20) 50 else (100 * (n - 10) - 1) / (n - 1)

  /** (percentile, value) of the tail of a non-empty sample. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p.toDouble))
  }

  /** Total length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def coveredLength(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Length of `[lo, hi]` that none of `intervals` covers. */
  def uncoveredLength(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double =
    math.max(0.0, (hi - lo) - coveredLength(lo, hi, intervals))
}
