package perfbench

/** Order statistics over timed samples. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p75/p90/p95/p99 that has at least ten samples
    * beyond it, as (percentile, value); None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50)
      .find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))

  /** Wall seconds of `body`, with its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
