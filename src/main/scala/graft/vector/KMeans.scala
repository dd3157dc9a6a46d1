package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native grouped Lloyd's k-means.
  *
  * Runs an independent k-means for every group (key = a long column) in ONE
  * DataFrame pass per iteration: broadcast the current per-group centroids,
  * assign each row to its nearest centroid with a tight primitive loop,
  * sum each (group, cluster)'s members map-side ([[VectorSums]]), and
  * collect only the partial sums, `#partitions · #groups · k · d` doubles,
  * to the driver. Job count is
  * O(iters), not O(groups · iters) — this is what lets the reference's
  * two-level IVF build (level-2 k-means per coarse cell, quake_min.py:66-90)
  * run as a constant number of distributed passes on a 1000-executor
  * cluster instead of a per-cell job storm.
  *
  * Determinism (needed for replayable plans and stable tests — the
  * reference uses seeded `rng.choice`, quake_min.py:25): initial centroids
  * are the k lowest `xxhash64(seed, group, id)` members of each group, and
  * empty clusters reseed from the same hash-ordered pool (reference
  * reseeds to a random point, quake_min.py:34-35 ∥ adaptive_ivf.mjs:113-117).
  * No `rand()` anywhere.
  */
object KMeans {

  /** Nearest-centroid assignment (first-minimum wins, like `np.argmin`).
    * Primitive-array overload: every hot path (lloydLocal chunks, the
    * distributed partial-sum loop) hands an `Array[Float]` — the Seq
    * overload below would wrap it and box every element access. */
  private[graft] def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val s = VectorOps.l2Sq(v, cents(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Seq overload for UDF call sites (Spark hands `Seq[Float]`); one
    * arraycopy then the primitive loop. */
  private[graft] def nearest(cents: Array[Array[Float]], v: Seq[Float]): Int =
    nearest(cents, v.toArray)

  /** Below this many float elements (rows × dim), the whole input is
    * collected and Lloyd's runs on the driver: ~64 MB — k-means state for
    * the IVF build is index METADATA, and at that size `iters` distributed
    * jobs are pure scheduling overhead (measured 28 jobs → 5.4 s for a
    * 2 000 × 64 build that runs in ~0.3 s locally). Larger inputs take the
    * distributed path below; both use the same seeded-hash initialization
    * (the local path calls Spark's own XXH64 so the pool order is
    * bit-identical to the `xxhash64` expression). */
  val LocalFitThresholdDefault: Long = 16L * 1024 * 1024

  /** Mutable ONLY as a test hook (set to 0 to force the distributed path
    * on fixture-scale data); production code never writes it. */
  @volatile private[graft] var localFitThreshold: Long = LocalFitThresholdDefault

  /** Rows of `df`, counted until it is known whether they exceed `cap`:
    * each map partition stops after `cap + 1` rows, as the local limit of
    * `limit(cap + 1).count()` does, but the partials come straight to the
    * driver — one shuffle-free job, no single-partition exchange. */
  private[graft] def countUpTo(df: DataFrame, cap: Int): Long =
    df.select(lit(1)).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.take(cap + 1).size.toLong))
      .collect().sum

  /** Fit k-means per group.
    *
    * @param df        input; must contain `groupCol` (long), `idCol` (long),
    *                  `vecCol` (array&lt;float&gt;). Should be cached by the caller
    *                  (it is scanned `iters + 2` times).
    * @param kFor      clusters per group (groups absent from the map are dropped)
    * @return (input + `cluster` int column, final centroids per group)
    */
  def fitGrouped(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      kFor: Map[Long, Int],
      iters: Int,
      seed: Long): (DataFrame, Map[Long, Array[Array[Float]]]) = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val maxK = math.max(1, if (kFor.isEmpty) 1 else kFor.values.max)

    // Groups absent from kFor are dropped, as documented — the assignment
    // closure below would otherwise NPE on them.
    val dfk =
      if (kFor.isEmpty) df.limit(0)
      else df.filter(col(groupCol).isInCollection(kFor.keySet))

    // Size probe, BOUNDED (never a full scan just to pick a strategy):
    // read the dimension from one row, then count at most cap+1 rows.
    val dimRow = dfk.select(size(col(vecCol))).limit(1).collect()
    val dim = if (dimRow.isEmpty) 0 else dimRow(0).getInt(0)
    val cap = (localFitThreshold / math.max(1, dim)).toInt
    if (countUpTo(dfk, cap) <= cap)
      return fitGroupedLocal(dfk, groupCol, idCol, vecCol, kFor, iters, seed)

    // Hash-ordered per-group pool (init points + reseed spares), computed
    // as a map-side bounded selection: each map partition keeps only its
    // 3k smallest (hash, id) rows per group, and the driver merges those
    // O(#partitions · #groups · 3k) survivors. The previous `row_number`
    // window shuffled the ENTIRE corpus just to rank rows — at 100 TB that
    // was the only full shuffle in the build that wasn't semantically
    // required. Hash = [[hashChain]] (catalyst XXH64 over long-cast keys),
    // so the pool order is bit-identical to the local path's by
    // construction, regardless of the caller's id column width.
    val poolCap = maxK * 3
    val projInit = dfk.select(col(groupCol).cast("long"), col(idCol).cast("long"), col(vecCol))
    val poolPartials: Array[Array[(Long, Array[(Long, Long, Array[Float])])]] =
      projInit.queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long, Array[Float])]]
        rows.foreach { r =>
          val g = r.getLong(0)
          val id = r.getLong(1)
          val h = hashChain(seed, g, id)
          val buf = acc.getOrElseUpdate(
            g, new scala.collection.mutable.ArrayBuffer[(Long, Long, Array[Float])](poolCap + 1))
          val accept = buf.length < poolCap || {
            val worst = buf(buf.length - 1)
            h < worst._1 || (h == worst._1 && id < worst._2)
          }
          if (accept) {
            var j = buf.length
            while (j > 0 && { val p = buf(j - 1); h < p._1 || (h == p._1 && id < p._2) }) j -= 1
            buf.insert(j, (h, id, r.getArray(2).toFloatArray()))
            if (buf.length > poolCap) buf.remove(buf.length - 1)
          }
        }
        Iterator.single(acc.iterator.map { case (g, buf) => (g, buf.toArray) }.toArray)
      }.collect()
    val pool: Map[Long, Array[Array[Float]]] = poolPartials.iterator.flatten.toArray
      .groupBy(_._1)
      .map { case (g, parts) =>
        g -> parts.iterator.flatMap(_._2).toArray
          .sortBy(t => (t._1, t._2)).take(poolCap).map(_._3)
      }

    var centroids: Map[Long, Array[Array[Float]]] = kFor.flatMap { case (g, k) =>
      pool.get(g).map(p => g -> p.take(math.max(1, math.min(k, p.length))))
    }

    def assignCol(cs: Map[Long, Array[Array[Float]]]) = {
      val bc = sc.broadcast(cs)
      udf { (g: Long, v: Seq[Float]) => nearest(bc.value(g), v) }
    }

    // Each iteration is ONE narrow job: the shared kernel sums each
    // (group, nearest cluster) straight from the InternalRows — no per-row
    // UDF boxing, no per-iteration shuffle — merged in partition order
    // (deterministic).
    val proj = dfk.select(col(groupCol).cast("long"), col(vecCol))
    var it = 0
    while (it < iters) {
      val bc = sc.broadcast(centroids)
      val sums = VectorSums.of(proj, vecCol) { () =>
        val cs = bc.value
        r => {
          val g = r.getLong(0)
          cs.get(g).map(cents => (g, nearest(cents, r.getArray(1).toFloatArray())))
        }
      }.means
      // per-iteration broadcasts would otherwise accumulate for the session
      // lifetime under the replay/streaming churn path (splitHot refits
      // repeatedly)
      bc.destroy()

      centroids = centroids.map { case (g, cents) =>
        val spares = pool.getOrElse(g, Array.empty)
        val next = Array.tabulate(cents.length) { ci =>
          sums.get((g, ci)) match {
            case Some((m, _)) => m
            case None =>
              // empty cluster → reseed to a deterministic pool point
              if (spares.nonEmpty) spares((it * cents.length + ci) % spares.length)
              else cents(ci)
          }
        }
        g -> next
      }
      it += 1
    }

    val assign = assignCol(centroids)
    (dfk.withColumn("cluster", assign(col(groupCol), col(vecCol))), centroids)
  }

  /** Mirror of `xxhash64(lit(seed), col(group), col(id))`: Spark's XxHash64
    * expression folds each input into the running hash starting from its
    * default seed 42 — calling catalyst's XXH64 directly keeps the local
    * pool order bit-identical to the distributed one. */
  private[graft] def hashChain(seed: Long, group: Long, id: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashLong(seed, 42L)
    h = XXH64.hashLong(group, h)
    XXH64.hashLong(id, h)
  }

  /** Driver-local grouped Lloyd's core over in-memory rows — same
    * seeded-hash pool, same reseed rule, same first-minimum assignment as
    * the distributed path. Returns per-row cluster assignments (aligned
    * with `rows`) and the final centroids per group. */
  private[graft] def lloydLocal(
      rows: Array[(Long, Long, Array[Float])],
      kFor: Map[Long, Int],
      iters: Int,
      seed: Long): (Array[Int], Map[Long, Array[Array[Float]]]) = {
    val byGroup = rows.groupBy(_._1)
    val maxK = math.max(1, if (kFor.isEmpty) 1 else kFor.values.max)

    val pool: Map[Long, Array[Array[Float]]] = byGroup.map { case (g, rs) =>
      g -> rs.map(r => (hashChain(seed, g, r._2), r._2, r._3))
        .sortBy(t => (t._1, t._2)).take(maxK * 3).map(_._3)
    }
    var centroids: Map[Long, Array[Array[Float]]] = kFor.flatMap { case (g, k) =>
      pool.get(g).map(p => g -> p.take(math.max(1, math.min(k, p.length))))
    }

    // Assignment dominates (rows × k × dim × iters mul-adds): chunk the
    // member array across a fixed pool; per-chunk (sum, count) partials
    // merge in chunk order, so results are deterministic regardless of
    // thread timing.
    val nThreads = graft.WorkPool.size
    // shared pool (see WorkPool): local fits run per build/split on hot
    // paths — no per-call thread spawning
    graft.WorkPool.assertNotPoolThread("KMeans.lloydLocal")
    val exec = graft.WorkPool.pool
    locally {
      var it = 0
      while (it < iters) {
        val next = centroids.map { case (g, cents) =>
          val members = byGroup.getOrElse(g, Array.empty)
          val chunks = if (members.isEmpty) Array(members) else members.grouped(
            math.max(1, (members.length + nThreads - 1) / nThreads)).toArray
          val partials = chunks.map { chunk =>
            exec.submit(new java.util.concurrent.Callable[VectorSums[Int]] {
              def call(): VectorSums[Int] = {
                val part = new VectorSums[Int]
                chunk.foreach { case (_, _, v) => part.add(nearest(cents, v), v) }
                part
              }
            })
          }.map(_.get())
          val sums = partials.foldLeft(new VectorSums[Int])(_ merge _).means
          val spares = pool.getOrElse(g, Array.empty)
          val res = Array.tabulate(cents.length) { ci =>
            sums.get(ci) match {
              case Some((m, _)) => m
              case None =>
                if (spares.nonEmpty) spares((it * cents.length + ci) % spares.length)
                else cents(ci)
            }
          }
          g -> res
        }
        centroids = next
        it += 1
      }
    }

    val finalCents = centroids
    val assigns = rows.map { case (g, _, v) =>
      finalCents.get(g).map(cs => nearest(cs, v)).getOrElse(-1)
    }
    (assigns, finalCents)
  }

  /** DataFrame wrapper over [[lloydLocal]]: collect, fit, join the
    * assignments back (broadcast — the assignment table is tiny). */
  private def fitGroupedLocal(
      dfk: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      kFor: Map[Long, Int],
      iters: Int,
      seed: Long): (DataFrame, Map[Long, Array[Array[Float]]]) = {
    val spark = dfk.sparkSession
    import spark.implicits._
    val rows: Array[(Long, Long, Array[Float])] = dfk
      .select(col(groupCol).cast("long"), col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val (assigns, finalCents) = lloydLocal(rows, kFor, iters, seed)
    val assignDf = rows.zip(assigns)
      .collect { case ((g, id, _), c) if c >= 0 => (g, id, c) }
      .toSeq.toDF(groupCol, idCol, "cluster")
    (dfk.join(broadcast(assignDf), Seq(groupCol, idCol)), finalCents)
  }

  /** Single (ungrouped) k-means: one group spanning the whole frame. */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seed: Long): (DataFrame, Array[Array[Float]]) = {
    val g = df.withColumn("__g", lit(0L))
    val (assigned, cents) = fitGrouped(g, "__g", idCol, vecCol, Map(0L -> k), iters, seed)
    (assigned.drop("__g"), cents(0L))
  }
}
