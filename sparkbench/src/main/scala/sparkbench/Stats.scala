package sparkbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile with enough support: the highest whole percentile
    * p <= `target` that leaves at least `minBeyond` samples above it, and
    * its nearest-rank value. With n samples p = min(target,
    * floor(100 (1 - minBeyond / n))), so p95 needs n >= 200. None when
    * fewer than `minBeyond` + 1 samples exist. */
  final case class Tail(percentile: Int, value: Double, samples: Int)

  def tail(xs: Seq[Double], target: Int = 95, minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= minBeyond) None
    else {
      // integer form of floor(100 * (n - minBeyond) / n), free of rounding
      val p = math.min(target, (100L * (n - minBeyond) / n).toInt)
      if (p < 1) None
      else {
        val rank = math.ceil(p * n / 100.0).toInt // 1-based nearest rank
        Some(Tail(p, xs.sorted.apply(rank - 1), n))
      }
    }
  }
}
