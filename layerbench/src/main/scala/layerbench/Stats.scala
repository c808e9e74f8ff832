package layerbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** Linearly interpolated percentile, `p` in [0, 1] (numpy's default:
    * rank h = p·(n−1), value = x⌊h⌋ + (h−⌊h⌋)·(x⌈h⌉ − x⌊h⌋) over the sorted
    * sample). NaN for an empty sample.
    */
  def percentile(xs: Array[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = p * (s.length - 1)
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs.toArray, 0.5)
}
