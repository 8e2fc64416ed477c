package perfbench

/** Latency summaries under the benchmark's tail rule: a tail is the
  * highest percentile that still has at least [[MinBeyond]] samples
  * above it, so a reported tail is never a single outlier. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile (q in [0, 1]) of already sorted values. */
  def percentileSorted(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(q * sorted.length).toInt
    sorted(math.min(sorted.length - 1, math.max(0, rank - 1)))
  }

  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of no samples")
    val s = values.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile level with at least `MinBeyond` samples
    * strictly beyond its rank, or None when there are too few samples
    * (fewer than MinBeyond + 1). */
  def tailLevel(n: Int): Option[Double] =
    if (n <= MinBeyond) None else Some((n - MinBeyond).toDouble / n)

  /** Whether a named percentile `q` keeps `MinBeyond` samples beyond
    * it at sample count `n`. */
  def tailValid(n: Int, q: Double): Boolean = n - math.ceil(q * n) >= MinBeyond
}
