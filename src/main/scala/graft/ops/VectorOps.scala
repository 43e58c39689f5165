package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector operations over `array<float>` columns, written as
  * order-deterministic folds so the DuckDB oracle reproduces bit-identical
  * doubles (elements are cast to double BEFORE any arithmetic; both engines
  * then do identical IEEE-754 ops in identical order).
  *
  * Scale path: brute-force cosine is O(n) per probe (fine for single-probe
  * top-k); the pair operators bucket first (sign-LSH / IVF lists) so the
  * join never goes quadratic — SURVEY.md §7.4.6.
  */
object VectorOps {

  /** q71/q177 shared integer quantizer for one element of a normalized
    * vector: clamp(floor(x/‖v‖·s + ½), ±s), zero-norm guarded. `nrm`
    * must be a PRECOMPUTED column (one dot per vector) — inlining the
    * norm expression here would re-evaluate the full O(d) dot inside
    * every element's lambda, making quantization O(d²) per vector.
    */
  def quantize(x: Column, nrm: Column, s: Long): Column =
    greatest(
      least(
        floor(
          when(nrm < lit(1e-12), lit(0.0))
            .otherwise(x.cast("double") / nrm * lit(s.toDouble) + lit(0.5))),
        lit(s)),
      lit(-s))

  /** Order-deterministic dot product. Oracle mirror:
    * `list_reduce(list_prepend(0e0, list_transform(generate_series(1,len(a)),
    *  i -> CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE))), (x,y) -> x+y)`.
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dotf", a, b)

  /** Cosine similarity dot/(|a||b|) with the same fold discipline. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Sign-LSH bucket over the first `bits` dimensions: axis-aligned random
    * hyperplanes (the axes themselves — deterministic, needs no shared
    * random state with the oracle). bucket = Σ 2^(j-1)·[e_j > 0].
    */
  def signBucket(e: Column, bits: Int): Column =
    (1 to bits)
      .map(j => when(element_at(e, j) > lit(0.0f), lit(1L << (j - 1))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Adaptive plane-count bounds: [8, 20] planes (256 … ~1M buckets); the
    * embedding dim (64) comfortably covers MaxPlanes axis hyperplanes.
    */
  val MinPlanes = 8
  val MaxPlanes = 20

  /** Expected members per sign bucket the plane count targets. */
  val TargetBucketSize = 16L

  /** Smallest p in [MinPlanes, MaxPlanes] whose 2^p buckets hold an
    * n-vector corpus at ~TargetBucketSize members each (n ≤ 16·2^p) —
    * integer comparisons only, so the DuckDB oracle replays the identical
    * choice (OracleSql.signBucketAdaptive). Scaling the bucket COUNT with
    * the corpus keeps per-bucket pair joins bounded at any scale and
    * leaves BucketCap as a purely degenerate-corpus backstop; with fixed
    * planes, healthy buckets would grow linearly with the corpus and the
    * cap would silently shape results (round-4 ADVICE item 1).
    */
  def adaptivePlanes(n: Long): Int = {
    var p = MinPlanes
    while (p < MaxPlanes && n > (TargetBucketSize << p)) p += 1
    p
  }
}
