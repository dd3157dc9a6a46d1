package graft.vector

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def twoBlobs = Seq(
    (0L, Seq(0f, 0f)), (1L, Seq(0.1f, 0f)), (2L, Seq(0f, 0.1f)),
    (3L, Seq(10f, 10f)), (4L, Seq(10.1f, 10f)), (5L, Seq(10f, 10.1f))
  ).toDF("id", "v").withColumn("g", lit(0L))

  test("fit separates two obvious blobs; assignment is nearest-centroid at fixpoint (O6)") {
    val (assigned, cents) = KMeans.fit(twoBlobs, "id", "v", k = 2, iters = 5, seed = 1L)
    val byCluster = assigned.select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(Set(byCluster(0L), byCluster(1L), byCluster(2L)).size == 1)
    assert(Set(byCluster(3L), byCluster(4L), byCluster(5L)).size == 1)
    assert(byCluster(0L) != byCluster(3L))
    // each point's assigned cluster is its argmin-distance centroid
    assigned.select("v", "cluster").collect().foreach { r =>
      val v = r.getSeq[Float](0)
      assert(r.getInt(1) == KMeans.nearest(cents, v))
    }
  }

  test("local hashChain is bit-identical to the xxhash64 expression (pool-order parity)") {
    val df = Seq((0L, 10L), (3L, 11L), (7L, 99L)).toDF("g", "id")
      .select(col("g"), col("id"), xxhash64(lit(17L), col("g"), col("id")).as("h"))
    df.as[(Long, Long, Long)].collect().foreach { case (g, id, h) =>
      assert(KMeans.hashChain(17L, g, id) == h, s"($g,$id)")
    }
  }

  test("fit is deterministic for a fixed seed") {
    val a = KMeans.fit(twoBlobs, "id", "v", 2, 5, seed = 42L)._2.map(_.toSeq).toSeq
    val b = KMeans.fit(twoBlobs, "id", "v", 2, 5, seed = 42L)._2.map(_.toSeq).toSeq
    assert(a == b)
  }

  test("k larger than distinct points still yields k finite centroids (empty-cluster reseed)") {
    val df = Seq((0L, Seq(1f, 1f)), (1L, Seq(1f, 1f)), (2L, Seq(2f, 2f)))
      .toDF("id", "v").withColumn("g", lit(0L))
    val (assigned, cents) = KMeans.fit(df, "id", "v", k = 3, iters = 4, seed = 7L)
    assert(cents.length == 3)
    assert(cents.forall(_.forall(f => !f.isNaN && !f.isInfinite)))
    assert(assigned.count() == 3)
  }

  test("fitGrouped drops groups absent from kFor instead of failing") {
    val df = Seq((0L, 10L, Seq(1f)), (1L, 11L, Seq(2f)), (5L, 12L, Seq(3f)))
      .toDF("g", "id", "v")
    val (assigned, cents) = KMeans.fitGrouped(df, "g", "id", "v", Map(0L -> 1, 1L -> 1), iters = 2, seed = 3L)
    assert(assigned.select("g").distinct().as[Long].collect().toSet == Set(0L, 1L))
    assert(cents.keySet == Set(0L, 1L))
  }

  test("fitGrouped on an empty kFor returns an empty assignment and no centroids") {
    val df = Seq((0L, 10L, Seq(1f)), (1L, 11L, Seq(2f))).toDF("g", "id", "v")
    val (assigned, cents) = KMeans.fitGrouped(df, "g", "id", "v", Map.empty, iters = 2, seed = 3L)
    assert(assigned.count() == 0L)
    assert(cents.isEmpty)
  }

  test("fitGrouped runs independent k-means per group in one pass") {
    val df = Seq(
      (0L, 0L, Seq(0f)), (0L, 1L, Seq(1f)), (0L, 2L, Seq(10f)), (0L, 3L, Seq(11f)),
      (1L, 4L, Seq(5f)), (1L, 5L, Seq(5.1f))).toDF("g", "id", "v")
    val (_, cents) = KMeans.fitGrouped(df, "g", "id", "v", Map(0L -> 2, 1L -> 1), iters = 5, seed = 9L)
    assert(cents(0L).length == 2 && cents(1L).length == 1)
    assert(math.abs(cents(1L)(0)(0) - 5.05f) < 1e-3)
    val g0 = cents(0L).map(_(0)).sorted
    assert(math.abs(g0(0) - 0.5f) < 1e-3 && math.abs(g0(1) - 10.5f) < 1e-3)
  }
}
