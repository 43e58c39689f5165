package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** FP-deterministic left-to-right folds over array columns — the Column
  * forms of the engine's recurrences that the tests use as references.
  *
  * Every recurrence the engine computes (EMA, autocorrelation sums, rolling
  * hashes) is an explicit left-to-right fold so that the DuckDB oracle can
  * mirror the exact same operation order with `list_reduce` and produce
  * bit-identical IEEE-754 doubles (SURVEY.md §2.3 determinism
  * conventions). The engine itself runs them as native expressions
  * (`functions.FoldExpressions`) and as the `graft_trailing` running-frame
  * aggregate; the composed higher-order-function forms below are the
  * parity references those replaced.
  *
  * Two fold shapes, each with an exact DuckDB mirror:
  *   - seed-first (`foldLR`): accumulator starts as the FIRST element,
  *     merging from the second — DuckDB `list_reduce(l, λ)`.
  *   - zero-seeded (`sumZ` / `foldZ`): accumulator starts at an explicit
  *     seed — DuckDB `list_reduce(list_prepend(seed, l), λ)`. Safe on empty
  *     arrays (returns the seed), which matters because DuckDB's
  *     `list_reduce` errors on empty lists.
  */
object Folds {

  /** Seed-first left fold: fold f over xs[2..n] starting from xs[1].
    * Mirror: `list_reduce(xs, (acc, x) -> f)`. Null on empty input.
    */
  def foldLR(xs: Column, f: (Column, Column) => Column): Column =
    aggregate(
      slice(xs, lit(2), greatest(size(xs) - 1, lit(0))),
      element_at(xs, 1).cast("double"),
      f
    )

  /** Zero-seeded left fold. Mirror:
    * `list_reduce(list_prepend(seed, xs), (acc, x) -> f)`.
    */
  def foldZ(xs: Column, seed: Column, f: (Column, Column) => Column): Column =
    aggregate(xs, seed, f)

  /** Order-deterministic sum: ((0.0 + x1) + x2) + ... Identical to the
    * seed-first sum because 0.0 + x == x in IEEE-754 (modulo -0.0, which
    * both engines normalize identically).
    */
  def sumZ(xs: Column): Column = foldZ(xs, lit(0.0), _ + _)

  /** Exponential moving average with the reference recurrence
    * `ema_t = x_t*k + ema_{t-1}*(1-k)`, `k = 2/(period+1)`, seeded with the
    * first value of the frame (reference: NinjaTrader `EMA` indicator
    * semantics used at `StrategyAnalyzerExporter.cs:138-139`).
    *
    * The input is the ordered window frame of the series; determinism
    * requires the frame to come from an ORDER BY'd rows-frame window.
    */
  def emaLR(xs: Column, period: Int): Column =
    call_function("graft_ema", xs, lit(period))

  /** The composed higher-order-function form of emaLR — same fold,
    * expressed with `aggregate()`. Kept as the parity reference for the
    * codegen'd `graft_ema` expression (FoldExpressions.EmaFold), which
    * replaced it on the hot path (~10x: interpreted per-element lambda
    * eval vs a generated Java loop).
    */
  def emaLRHof(xs: Column, period: Int): Column = {
    val k = 2.0 / (period + 1.0)
    val omk = 1.0 - k
    foldLR(xs, (acc, x) => acc * lit(omk) + x * lit(k))
  }

  /** Lag-1 Pearson-style autocorrelation over an ordered frame — reference
    * `Common.cs:29-60`: mean over n, num = Σ_{i≥2}(x_i−μ)(x_{i−1}−μ),
    * den = Σ(x_i−μ)², 0.0 when n ≤ lag or |den| < tol.
    */
  def autocorrLag1(xs: Column, tol: Double): Column =
    call_function("graft_autocorr1", xs, lit(tol))

  /** Composed HOF form of autocorrLag1 — parity reference for the
    * codegen'd `graft_autocorr1` (FoldExpressions.AutocorrLag1).
    */
  def autocorrLag1Hof(xs: Column, tol: Double): Column = {
    val n = size(xs)
    val mu = sumZ(xs) / n
    val num = sumZ(
      transform(
        sequence(lit(2), n),
        i => (element_at(xs, i) - mu) * (element_at(xs, i - 1) - mu)
      )
    )
    val den = sumZ(
      transform(
        sequence(lit(1), n),
        i => (element_at(xs, i) - mu) * (element_at(xs, i) - mu)
      )
    )
    when(n <= 1, lit(0.0))
      .otherwise(when(abs(den) < lit(tol), lit(0.0)).otherwise(num / den))
  }

  /** Composed HOF form of `VectorOps.dot` — parity reference for the
    * codegen'd `graft_dotf` (FoldExpressions.DotF).
    */
  def dotHof(a: Column, b: Column): Column =
    sumZ(
      transform(
        sequence(lit(1), size(a)),
        i => element_at(a, i).cast("double") * element_at(b, i).cast("double")
      )
    )
}
