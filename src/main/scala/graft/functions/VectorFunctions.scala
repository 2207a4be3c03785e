package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Dense-vector math over `ArrayType(FloatType|DoubleType)` embedding
 * columns (reference README.md:72,116 — embeddings + top-K similarity), expressed with Spark higher-order functions (`zip_with` +
 * `aggregate`) so it runs inside Catalyst without UDF/serialization cost.
 *
 * All inputs are cast element-wise to DOUBLE *before* any arithmetic and
 * accumulated sequentially, which makes results bit-identical to an oracle
 * computing `list_dot_product(a::DOUBLE[], b::DOUBLE[])` the same way.
 */
object Vec {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity `dot/(|a|*|b|)`; NULL when either norm is 0.
    *
    * Dispatches to the native codegen'd
    * [[graft.functions.expressions.CosineSimilarity]] expression (one fused
    * loop, stays in whole-stage codegen — the HOF formulation is
    * interpreted and ~30× slower on pairwise workloads). Results are
    * bit-identical; [[cosineHof]] remains as the reference formulation. */
  def cosine(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    call_function("graft_cosine_sim", a, b)
  }

  /** Higher-order-function cosine (interpreted; kept as the executable
    * spec the native expression is cross-checked against). */
  def cosineHof(a: Column, b: Column): Column =
    F.safeDiv(dot(a, b), norm(a) * norm(b))

  /** Index (0-based, ascending-cid order) of the nearest centroid by
    * cosine — a scan-side projection via the native
    * [[graft.functions.expressions.NearestCentroid]] kernel: the IVF
    * assignment step with ZERO join/shuffle/window on the corpus. */
  def nearestCentroid(vec: Column, matrix: Seq[Seq[Double]]): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    call_function("graft_nearest_centroid", vec, typedlit(matrix))
  }

  /** The `n` nearest centroid indices, ordered (cosine desc, index asc) —
    * the probe-side twin of [[nearestCentroid]]; `explode` for the probe
    * list with no per-query window. */
  def nearestCentroids(vec: Column, matrix: Seq[Seq[Double]], n: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    call_function("graft_nearest_centroids", vec, typedlit(matrix), lit(n))
  }

  /** Element-wise vector sum as a true mergeable aggregate (the k-means
    * Lloyd-update aggregate): per-group state is one dim-wide double
    * array, so the shuffle carries a single summed vector per
    * (group × partition) — see
    * [[graft.functions.expressions.VectorSum]]. */
  def vectorSum(vec: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    call_function("graft_vector_sum", vec)
  }

  // ---------------------------------------------------------- quantization

  /** Per-vector symmetric int8 scale: max |x_i| (0.0 for the zero/empty
    * vector — its codes are all zero anyway). */
  def q8Scale(a: Column): Column =
    coalesce(array_max(transform(asDouble(a), x => abs(x))), lit(0.0))

  /**
   * Symmetric int8 quantization code array: `round(x_i / scale * 127)` as
   * TINYINT (HALF_UP — identical to DuckDB/ANSI `round`), zero vector →
   * zero codes. 4× smaller than float32 — at a 100 TB embedding corpus
   * this is the difference between shuffling/storing 25 TB and 100 TB of
   * vectors — and, because cosine is scale-invariant, [[cosineQ8]] on the
   * codes equals cosine on the dequantized vectors EXACTLY (not
   * approximately): the per-vector scales cancel. Store `(q8_scale, q8)`
   * next to (or instead of) the float column; dequantize with [[dequantQ8]]
   * only where absolute magnitudes matter.
   */
  def quantQ8(a: Column, scale: Column): Column =
    transform(asDouble(a),
      x => when(scale === 0.0, lit(0))
        .otherwise(round(x / scale * lit(127.0))).cast("tinyint"))

  /** Convenience single-arg form. Prefer the two-arg overload with the
    * scale PROJECTED in a prior select: Spark does not hoist
    * loop-invariant subtrees out of higher-order-function lambdas, so an
    * inline [[q8Scale]] re-evaluates its O(dim) scan per ELEMENT —
    * O(dim²) per row on the column this operator exists to shrink. */
  def quantQ8(a: Column): Column = quantQ8(a, q8Scale(a))

  /** Reconstruction: `q_i * scale / 127` (error ≤ scale/254 per element). */
  def dequantQ8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale / lit(127.0))

  /** Cosine over int8 code arrays — pure integer dot/norm math (the
    * SIMD-friendly form at scale), bit-equal to [[cosine]] of the
    * dequantized vectors because the scales cancel. */
  def cosineQ8(qa: Column, qb: Column): Column = cosine(
    qa.cast("array<double>"), qb.cast("array<double>"))
}
