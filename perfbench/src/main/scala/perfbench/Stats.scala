package perfbench

/** Order statistics the benchmark reports. Percentiles use the nearest
  * rank: the p-th percentile of n sorted samples is the sample at
  * 1-based rank ceil(p * n).
  */
object Stats {

  /** A tail is only reported where at least this many samples lie beyond it. */
  val MinBeyond = 10

  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n - 1e-9).toInt))

  /** Samples strictly beyond the p-th percentile of n samples. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The fewest samples at which `p` becomes a reportable tail. */
  def samplesFor(p: Double): Int =
    Iterator.from(1).find(n => samplesBeyond(n, p) >= MinBeyond).get

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
