package graftbench

/** Order statistics used by every workload's summary. */
object Stats {

  /** Linearly interpolated quantile, `q` in [0, 1] (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail of a sample: the highest percentile that still has at least
    * `minBeyond` samples above it, i.e. the (n − minBeyond)-th smallest
    * value. Returns (value, percentile rank in %). Below
    * 2 × (minBeyond + 1) samples that point would sit at or under the
    * median, so such a sample reports its maximum instead, at rank 100:
    * the tail is never below the median. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted.toIndexedSeq
    if (s.size < 2 * (minBeyond + 1)) (s.last, 100.0)
    else {
      val idx = s.size - 1 - minBeyond
      (s(idx), 100.0 * (idx + 1) / s.size)
    }
  }
}
