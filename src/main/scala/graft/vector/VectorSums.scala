package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

import scala.collection.mutable

/** Per-key element-wise mean of float vectors — the reference's centroid,
  * `np.mean(axis=0)` over a partition's members (quake_min.py:85,108,122 ∥
  * adaptive_ivf.mjs:58-68). Every centroid in the engine (IVF build, split,
  * insert/delete refresh, each k-means iteration) is computed here.
  *
  * Each key holds a double `(sum, n)`; [[means]] casts `sum / n` to float,
  * the reference's float64 mean before its float32 cast. Summation follows
  * call order: [[add]] in row order, [[merge]] in partition or chunk order.
  * A caller that keeps both orders fixed gets bit-identical centroids run
  * to run, whatever the thread or task timing.
  */
final class VectorSums[K] extends Serializable {
  private val acc = mutable.HashMap.empty[K, VectorSums.Sum]

  private def sumFor(k: K, dim: Int): VectorSums.Sum =
    acc.getOrElseUpdate(k, new VectorSums.Sum(new Array[Double](dim), 0L))

  def add(k: K, v: Array[Float]): Unit = {
    val b = sumFor(k, v.length)
    val s = b.sum
    var i = 0
    while (i < s.length) { s(i) += v(i); i += 1 }
    b.n += 1
  }

  /** Reads the elements straight from Spark's array (no boxing). */
  def add(k: K, v: ArrayData): Unit = {
    val b = sumFor(k, v.numElements())
    val s = b.sum
    var i = 0
    while (i < s.length) { s(i) += v.getFloat(i); i += 1 }
    b.n += 1
  }

  /** Adds `o`'s sums into this one; `o` is left unchanged. */
  def merge(o: VectorSums[K]): this.type = {
    o.acc.foreach { case (k, ob) =>
      acc.get(k) match {
        case None => acc(k) = new VectorSums.Sum(ob.sum.clone(), ob.n)
        case Some(b) =>
          val s = b.sum
          var i = 0
          while (i < s.length) { s(i) += ob.sum(i); i += 1 }
          b.n += ob.n
      }
    }
    this
  }

  /** `(mean, n)` per key that received at least one vector. */
  def means: Map[K, (Array[Float], Long)] =
    acc.iterator.map { case (k, b) =>
      val out = new Array[Float](b.sum.length)
      var i = 0
      while (i < out.length) { out(i) = (b.sum(i) / b.n).toFloat; i += 1 }
      k -> (out, b.n)
    }.toMap
}

object VectorSums {
  private final class Sum(val sum: Array[Double], var n: Long) extends Serializable

  /** One shuffle-free job over `df`: each map partition adds the non-null
    * `vecCol` of every row that the key function sends to `Some(k)`, in row
    * order, and the driver merges the partials in partition order. Only
    * O(#partitions · #keys · dim) doubles come back to the driver.
    *
    * @param keyFor called once per map partition (so it can read a
    *               broadcast once); returns the per-row key, or `None` to
    *               skip the row. */
  def of[K](df: DataFrame, vecCol: String)(keyFor: () => InternalRow => Option[K]): VectorSums[K] = {
    val vi = df.schema.fieldIndex(vecCol)
    val partials = df.queryExecution.toRdd.mapPartitions { rows =>
      val key = keyFor()
      val part = new VectorSums[K]
      rows.foreach { r =>
        if (!r.isNullAt(vi)) key(r).foreach(k => part.add(k, r.getArray(vi)))
      }
      Iterator.single(part)
    }.collect()
    partials.foldLeft(new VectorSums[K])(_ merge _)
  }
}
