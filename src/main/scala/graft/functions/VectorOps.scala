package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector math built from Catalyst higher-order
  * functions (`zip_with` / `aggregate` / `transform`), so everything
  * stays inside whole-stage codegen — no Scala UDF serialization, no
  * per-row boxing beyond the array itself.
  *
  * Re-expresses the reference's scalar kernel
  * (`KMeans.java:116-122` — `calculateDist`, positional
  * sqrt-of-sum-of-squares) declaratively. The fold is sequential
  * left-to-right per row, so results are deterministic for a given
  * array (unlike a distributed sum).
  */
object VectorOps {

  /** Element-wise (a-b)^2 summed — squared Euclidean distance.
    * Multiplication (not pow) for bit-stable cross-engine parity.
    * Runs the native SqDistExpr kernel; sqDistHof is the HOF twin it
    * is bit-identical to (pinned in VectorOpsSpec). */
  def sqDist(a: Column, b: Column): Column = VectorKernels.sqDistCol(a, b)

  /** The declarative HOF twin of sqDist — the form the oracle SQL
    * mirrors term by term. */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean distance, `KMeans.java:116-122`. */
  def euclidean(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  /** Dot product — native DotExpr kernel; dotHof is the pinned twin. */
  def dot(a: Column, b: Column): Column = VectorKernels.dotCol(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0-vector guarded to NULL rather than NaN. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm2(a) * norm2(b)
    when(d =!= 0.0, dot(a, b) / d)
  }

  /** Cosine with caller-precomputed norms — the hot-path form: in an
    * N×M scoring join each side's norm is computed ONCE per row
    * upstream instead of once per PAIR (3× fewer folds / array
    * allocations per pair). Bit-identical to cosine(): the hoisted
    * norm is the same double, so the quotient is the same. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d =!= 0.0, dot(a, b) / d)
  }

  /** Sequential left-fold sum of an array<double>. Unlike a
    * distributed `sum`, the fold order is pinned (left-to-right over
    * the array), so over a SORTED array the result is bit-deterministic
    * — the cross-engine FP-parity trick used by the oracle queries
    * (DuckDB's `list_reduce(list_sort(...), ...)` folds identically;
    * the 0.0 init is exact: 0.0 + x == x in IEEE754). */
  def foldSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v)

  /** The sorted-fold aggregate: a group's doubles folded left to
    * right in ascending order — the oracle-parity contract that makes
    * a grouped sum bit-identical across partitionings and to DuckDB's
    * `list_reduce(list_sort(list(x)), +)`. */
  def sortedSum(c: Column): Column = foldSum(array_sort(collect_list(c)))

  /** Element-wise sum of two equal-length vectors. */
  def vecAdd(a: Column, b: Column): Column = zip_with(a, b, _ + _)

  /** Scale a vector by a scalar column. */
  def vecScale(a: Column, s: Column): Column = transform(a, x => x * s)

  /** Cast an array<float> (testdata embeddings) to array<double> so all
    * arithmetic runs in double — matches the oracle's ::DOUBLE[] cast. */
  def toDouble(a: Column): Column = a.cast("array<double>")

  // ── int8 scalar quantization (embedding storage at corpus scale) ──

  /** Per-vector min/max scalar quantization: code_i = floor((x_i-lo)
    * · 255 / (hi-lo) + 0.5) ∈ [0,255], plus the (lo, hi) pair needed
    * to dequantize — 4× smaller than float32 (parquet byte-packs the
    * small ints), the standard storage form for billion-vector ANN
    * corpora where the index shuttles codes and only the final
    * re-rank touches full floats. floor(x+0.5) instead of round():
    * round()'s half-mode is engine-specific (HALF_UP vs banker's);
    * floor is IEEE-exact everywhere, so codes are cross-engine
    * bit-identical. Constant vectors (hi == lo) map to code 0.
    * Rowwise codegen, no shuffle. */
  def quantizeInt8(a: Column): Column = {
    val lo = array_min(a)
    val hi = array_max(a)
    struct(
      transform(a, x =>
        when(hi === lo, 0)
          .otherwise(floor((x - lo) * 255.0 / (hi - lo) + 0.5).cast("int"))).as("codes"),
      lo.as("lo"), hi.as("hi"))
  }

  /** Inverse of quantizeInt8: x̂_i = lo + code_i · (hi-lo) / 255.
    * Max abs reconstruction error is half a step: (hi-lo)/510. */
  def dequantizeInt8(q: Column): Column = {
    val lo = q.getField("lo")
    val hi = q.getField("hi")
    transform(q.getField("codes"), c =>
      when(hi === lo, lo).otherwise(lo + c.cast("double") * (hi - lo) / 255.0))
  }
}
