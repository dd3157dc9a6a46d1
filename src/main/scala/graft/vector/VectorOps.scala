package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector kernels over `ArrayType(FloatType)` columns.
  *
  * Distances accumulate in double, mirroring the reference's float64
  * accumulation (reference: quake_min.py:8-14, adaptive_ivf.mjs:23-40), but
  * are expressed as Spark built-in higher-order functions (`zip_with` +
  * `aggregate`) so they run inside whole-stage codegen — no UDF boxing, no
  * serialization, and Catalyst can still prune/push the surrounding plan.
  *
  * The reference's BLAS-matmul all-pairs trick (quake_min.py:11-14) has no
  * single-operator Spark analog; the idiomatic equivalent is a broadcast
  * join of the small side (centroids / query batch) against the vector
  * table with these expressions evaluated per joined row — the codegen'd
  * tight loop is the moral equivalent of the vectorized kernel and it
  * scales horizontally, which the single-node matmul does not.
  */
object VectorOps {
  private def dbl(c: Column): Column = c.cast("double")

  /** Squared L2 distance (reference `l2`, quake_min.py:8-9) — the native
    * codegen'd [[L2Squared]] expression (primitive loop, no per-row
    * intermediate array). */
  def l2Sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(L2Squared(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** Squared L2 of two float arrays with [[L2Squared]]'s arithmetic: float
    * differences widened to double, accumulated in index order (over the
    * shorter length). */
  private[graft] def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Higher-order-function form of [[l2Sq]] (built-in `zip_with` +
    * `aggregate`): kept as the semantic reference for parity tests and as
    * the portable fallback. */
  def l2SqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (dbl(x) - dbl(y)) * (dbl(x) - dbl(y))),
      lit(0.0),
      (acc, v) => acc + v)

  /** Euclidean distance. */
  def l2Dist(a: Column, b: Column): Column = sqrt(l2Sq(a, b))

  /** Dot product, double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => dbl(x) * dbl(y)), lit(0.0), (acc, v) => acc + v)

  /** Squared L2 norm. */
  def normSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + dbl(v) * dbl(v))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity — the native codegen'd [[CosineSim]] expression
    * (one fused primitive loop; bitwise-identical to [[cosineHof]], which
    * walks the pair three times). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(CosineSim(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** Higher-order-function form of [[cosine]] (built-in `zip_with` +
    * `aggregate`): kept as the semantic reference for parity tests and as
    * the portable fallback. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Dimension-check predicate used at index-build time (the reference has
    * no validation at all — a bad dim crashes NumPy broadcasting,
    * quake_min.py:106; we validate cheaply instead). */
  def hasDim(a: Column, d: Int): Column = size(a) === d
}
