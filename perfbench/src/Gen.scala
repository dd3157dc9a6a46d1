package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of the
  * workload seed and a stream id, so the same seed gives the same
  * inputs however the work is partitioned. */
object Gen {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom = new SplittableRandom(mix(seed, stream))

  /** Gaussian-mixture centres ~ N(0, 4²) per coordinate. */
  def centers(seed: Long, k: Int, d: Int): Array[Array[Float]] = {
    val r = rng(seed, -1L)
    Array.fill(k, d)((r.nextGaussian() * 4.0).toFloat)
  }

  /** Mixture point `id`: a uniformly chosen centre + N(0, 1) noise. */
  def point(seed: Long, id: Long, cs: Array[Array[Float]]): (Int, Array[Float]) = {
    val r = rng(seed, id)
    val c = r.nextInt(cs.length)
    val v = cs(c)
    (c, Array.tabulate(v.length)(i => v(i) + r.nextGaussian().toFloat))
  }

  /** Mixture points 0 until `n`, generated on the driver in parallel. */
  def mixture(seed: Long, n: Int, cs: Array[Array[Float]]): Array[(Int, Array[Float])] = {
    val pts = new Array[(Int, Array[Float])](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => pts(i) = point(seed, i.toLong, cs))
    pts
  }

  /** The same points as a `(vec_id, embedding)` frame the executors
    * generate: no driver-side encoding and no shuffle. */
  def mixtureFrame(spark: SparkSession, seed: Long, n: Int, cs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, spark.sparkContext.defaultParallelism).as[Long]
      .mapPartitions(_.map(id => (id, point(seed, id, cs)._2)))
      .toDF("vec_id", "embedding")
  }

  /** `v` + N(0, sigma²) noise per coordinate. */
  def jitter(r: SplittableRandom, v: Array[Float], sigma: Double): Array[Float] =
    v.map(x => x + (r.nextGaussian() * sigma).toFloat)

  /** The reference's insert noise: randn·0.5 + randn per coordinate. */
  def noise(r: SplittableRandom, d: Int): Array[Float] =
    Array.fill(d)((r.nextGaussian() * 0.5 + r.nextGaussian()).toFloat)

  /** `n` unit-length d-dim embeddings of intrinsic dimension `rank`:
    * a fixed random d×rank map of N(0, I) codes, plus N(0, 0.05²) noise,
    * normalized. Real embeddings are low-rank like this; i.i.d. Gaussian
    * directions in 64 dims would be the worst case for any graph index. */
  def embeddings(seed: Long, n: Int, d: Int, rank: Int): Array[Array[Float]] = {
    val m = rng(seed, -1L)
    val a = Array.fill(d, rank)(m.nextGaussian())
    Array.tabulate(n) { i =>
      val r = rng(seed, i.toLong)
      val z = Array.fill(rank)(r.nextGaussian())
      val v = Array.tabulate(d)(j => (0 until rank).map(k => a(j)(k) * z(k)).sum + 0.05 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** Zipf(alpha) rank sampler over [0, n): P(r) ∝ 1 / (r + 1)^alpha. */
  final class Zipf(n: Int, alpha: Double, r: SplittableRandom) {
    private val cum = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, alpha)).scanLeft(0.0)(_ + _).tail
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble() * cum.last)
      math.min(if (i < 0) -i - 1 else i, n - 1)
    }
  }

  /** Word `i` of the synthetic vocabulary: distinct lowercase strings. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 26
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }

  /** One document: `len` words drawn from `zipf` over the vocabulary. */
  def doc(zipf: Zipf, len: Int): Array[String] =
    Array.fill(len)(word(zipf.next()))
}
