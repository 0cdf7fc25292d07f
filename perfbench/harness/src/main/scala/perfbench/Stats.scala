package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** The q-quantile (0 ≤ q ≤ 1) with linear interpolation between the two
    * closest ranks (Hyndman and Fan type 7, numpy's default).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    quantileSorted(xs.sorted.toArray, q)
  }

  def quantileSorted(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val h = (sorted.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nanosecond samples → sorted seconds, for percentile reads. */
  def sortedSeconds(ns: Array[Long]): Array[Double] = {
    val s = ns.map(_ / 1e9)
    java.util.Arrays.sort(s)
    s
  }
}
