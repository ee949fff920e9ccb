package graftbench

/** Summary statistics for timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[TailLadder]] with at least `beyond`
    * samples above it (`n·(1 − p/100) ≥ beyond`), with its value; None when
    * even the median has too few. p90 therefore needs 100 samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => xs.size * (100 - p) >= beyond * 100.0 - 1e-9)
      .map(p => p -> percentile(xs, p))
}
