package graft.functions

/** The running EMA step and the lag-1 autocorrelation loop of the
  * reference (`StrategyAnalyzerExporter.cs:138-139`, `Common.cs:29-60`),
  * written once for the batch aggregate (`TrailingFeatures`), the
  * interpreted `graft_autocorr1` and the streaming pipeline
  * (`StreamFeatures`). The DuckDB oracle mirrors the same IEEE operations
  * in the same order (`OracleSql.ema`, `OracleSql.autocorrLag1`).
  */
object FeatureKernel {

  /** EMA smoothing constant `2 / (period + 1)`. */
  def emaK(period: Int): Double = 2.0 / (period.toDouble + 1.0)

  /** One EMA step; a series seeds with its first value (the caller's job). */
  def emaStep(ema: Double, x: Double, k: Double): Double = ema * (1.0 - k) + x * k

  /** Lag-1 autocorrelation of `a(from until from + n)`: mean over n,
    * num = Σ_{i≥2}(x_i−μ)(x_{i−1}−μ), den = Σ(x_i−μ)², each a zero-seeded
    * left-to-right sum; 0.0 when n ≤ 1 or |den| < tol. The guard reads as
    * the oracle's `CASE WHEN abs(den) < tol THEN 0` does, so a NaN den
    * (a NaN in the window) gives NaN, not 0.0.
    */
  def autocorr1(a: Array[Double], from: Int, n: Int, tol: Double): Double = {
    if (n <= 1) return 0.0
    val end = from + n
    var s = 0.0
    var i = from
    while (i < end) { s = s + a(i); i += 1 }
    val mu = s / n
    var num = 0.0
    i = from + 1
    while (i < end) { num = num + (a(i) - mu) * (a(i - 1) - mu); i += 1 }
    var den = 0.0
    i = from
    while (i < end) { val d = a(i) - mu; den = den + d * d; i += 1 }
    if (math.abs(den) < tol) 0.0 else num / den
  }
}
