package graft.index

import graft.vector.{KMeans, VectorOps, VectorSums}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-level IVF index build (reference `AdaptiveIVF.build`,
  * quake_min.py:66-90 ∥ adaptive_ivf.mjs:156-192).
  *
  * Level-1 k-means (`k_coarse`, 12 iters, seed 42) over the whole corpus,
  * then level-2 k-means inside every coarse cell with
  * `kb = min(k_base, max(1, n_c / 50))` (10 iters, seed 123 — the reference
  * seeds 123+c per cell; our grouped k-means derives per-cell streams by
  * hashing the cell id into the seed, same independence, different bits).
  *
  * Spark shape: both levels are [[graft.vector.KMeans.fitGrouped]] passes —
  * level 2 runs ALL cells in one distributed job per iteration rather than
  * a per-cell loop, so build cost is O(iters) scans however many cells
  * exist. Per-partition centroids are then recomputed as the exact mean of
  * final members (the reference does the same, quake_min.py:85) by one
  * shuffle-free [[graft.vector.VectorSums]] pass.
  *
  * Empty level-2 clusters are skipped, matching quake_min.py:82 — pids are
  * dense over non-empty partitions only.
  */
object IvfBuild {
  val KCoarseDefault = 16
  val KBaseDefault = 4

  /** Reference level-2 sizing rule: `min(k_base, max(1, n_c / 50))`
    * (quake_min.py:78-79). */
  private def kbFor(n: Long, kBase: Int): Int =
    math.min(kBase, math.max(1, (n / 50).toInt))

  /** @param emb DataFrame with `vec_id: long`, `embedding: array<float>`.
    * @param nRowsHint caller-known row count (skips the bounded size-probe
    *                  job — the reference's build is handed an array whose
    *                  size is free, so a caller that already knows its
    *                  corpus size shouldn't pay a probe job either). */
  def build(
      emb: DataFrame,
      dim: Int,
      kCoarse: Int = KCoarseDefault,
      kBase: Int = KBaseDefault,
      nRowsHint: Option[Long] = None): IvfModel = {
    val spark = emb.sparkSession

    val clean = emb
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(VectorOps.hasDim(col("embedding"), dim))

    // Index construction is metadata-scale work for small corpora: below
    // the local-fit threshold the whole two-level build collects once and
    // runs on the driver (2 jobs total instead of ~10 — measured 1.3 s →
    // 0.4 s at 2000×64), with identical algorithmic structure. The size
    // probe is BOUNDED ([[KMeans.countUpTo]]) so a 100 TB corpus never
    // pays a full scan just to learn it is over the threshold.
    val cap = (KMeans.localFitThreshold / math.max(1, dim)).toInt
    val n = nRowsHint.getOrElse(KMeans.countUpTo(clean, cap))
    if (n <= cap)
      return buildLocal(spark, clean, dim, kCoarse, kBase)

    val base = clean
      .withColumn("__g", lit(0L))
      .cache()

    // Level 1: coarse cells.
    val (l1, coarseCents) =
      KMeans.fitGrouped(base, "__g", "vec_id", "embedding", Map(0L -> kCoarse), iters = 12, seed = 42L)
    val assigned1 = l1
      .withColumn("coarse_id", col("cluster").cast("long"))
      .select("vec_id", "embedding", "coarse_id")
      .cache()
    assigned1.count()
    base.unpersist()

    // Level 2: per-cell partitions, one grouped pass.
    val cellSizes = assigned1.groupBy("coarse_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val kFor = cellSizes.map { case (c, nc) => c -> kbFor(nc, kBase) }
    val (l2, _) =
      KMeans.fitGrouped(assigned1, "coarse_id", "vec_id", "embedding", kFor, iters = 10, seed = 123L)

    // Dense global pids in (coarse_id, cluster) order; empty clusters get
    // filtered out after the size scan below.
    val l2c = l2.withColumn("__pk", col("coarse_id") * 1000000L + col("cluster")).cache()
    val pkIdx = l2c.schema.fieldIndex("__pk")
    val stats = VectorSums.of(l2c, "embedding")(() => r => Some(r.getLong(pkIdx))).means.toArray.sortBy(_._1)
    val pidOf: Map[Long, Long] = stats.map(_._1).zipWithIndex.map { case (pk, i) => pk -> i.toLong }.toMap

    // Map-literal lookup instead of a UDF: stays in codegen, no boxing.
    val vectors = l2c
      .withColumn("partition_id", try_element_at(typedLit(pidOf), col("__pk")))
      .select("vec_id", "embedding", "partition_id")
      .cache()
    vectors.count()
    assigned1.unpersist()
    l2c.unpersist()

    val partitions = stats.map { case (pk, (centroid, n)) =>
      PartitionMeta(pid = pidOf(pk), coarseId = pk / 1000000L, centroid = centroid, size = n, hits = 0L, lastSplitAt = 0L)
    }.toVector

    val baseIds: Map[Long, Vector[Long]] = partitions.groupBy(_.coarseId).map { case (c, ps) =>
      c -> ps.map(_.pid).sorted
    }

    IvfModel(dim, vectors, coarseCents(0L), baseIds, partitions, queryCounter = 0L)
  }

  /** Driver-local two-level build (same structure, zero per-iteration
    * jobs): collect → level-1 Lloyd's → level-2 grouped Lloyd's → dense
    * pids + exact centroid means → one stored (`localCheckpoint`ed) table
    * for the payload. `unpersist()` on that table is a no-op: its blocks are
    * freed when the driver's ContextCleaner collects the RDD after the last
    * reference to it goes. */
  private def buildLocal(
      spark: org.apache.spark.sql.SparkSession,
      clean: DataFrame,
      dim: Int,
      kCoarse: Int,
      kBase: Int): IvfModel = {
    import spark.implicits._
    // InternalRow collect: primitive float-array extraction, no per-element
    // boxing (a Row collect boxes every float — ~1.5 s alone at 40k×64).
    val rows: Array[(Long, Array[Float])] = clean.queryExecution.toRdd
      .mapPartitions(it => it.map(r => (r.getLong(0), r.getArray(1).toFloatArray())))
      .collect()

    // Level 1: coarse cells.
    val l1Rows = rows.map { case (id, v) => (0L, id, v) }
    val (a1, cents1) = KMeans.lloydLocal(l1Rows, Map(0L -> kCoarse), iters = 12, seed = 42L)

    // Level 2: per-cell partitions.
    val l2Rows = rows.zip(a1).map { case ((id, v), c) => (c.toLong, id, v) }
    val cellSizes = l2Rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val kFor = cellSizes.map { case (c, nc) => c -> kbFor(nc, kBase) }.toMap
    val (a2, _) = KMeans.lloydLocal(l2Rows, kFor, iters = 10, seed = 123L)

    // Dense pids in (coarse_id, cluster) order, exact mean centroids.
    val pks = l2Rows.zip(a2).map { case ((c, _, _), cl) => c * 1000000L + cl }
    val pidOf = pks.distinct.sorted.zipWithIndex.map { case (pk, i) => pk -> i.toLong }.toMap
    val sums = new VectorSums[Long]
    l2Rows.zip(pks).foreach { case ((_, _, v), pk) => sums.add(pk, v) }
    val stats = sums.means
    val partitions = pidOf.toVector.sortBy(_._2).map { case (pk, pid) =>
      val (centroid, n) = stats(pk)
      PartitionMeta(pid = pid, coarseId = pk / 1000000L, centroid = centroid, size = n, hits = 0L, lastSplitAt = 0L)
    }
    val baseIds: Map[Long, Vector[Long]] = partitions.groupBy(_.coarseId).map { case (c, ps) =>
      c -> ps.map(_.pid).sorted
    }
    // Materialize the payload as pre-encoded UnsafeRows: `toDF` walks the
    // product encoder per row on the driver (~0.5 s at 40k×64); building
    // UnsafeRows directly is one primitive copy per vector (~0.1 s).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true),
      StructField("partition_id", LongType, nullable = false)))
    val proj = UnsafeProjection.create(schema)
    val unsafeRows: Array[InternalRow] = l2Rows.zip(pks).map { case ((_, id, v), pk) =>
      proj(InternalRow(id, ArrayData.toArrayData(v), pidOf(pk))).copy(): InternalRow
    }
    // The identity map is what gets stored: the store then drops its parent,
    // which holds `unsafeRows`, so the table is not kept twice on the driver.
    val rdd = spark.sparkContext
      .parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(unsafeRows),
        spark.sparkContext.defaultParallelism)
      .mapPartitions(identity, preservesPartitioning = true)
      .localCheckpoint()
    // Store the rows with a per-partition count (`count()` would ship its
    // partial counts through a shuffle), then build the frame, so its plan
    // sees only the stored partitions. A stored table is a leaf: the first
    // write appends to it and `IvfMutate.checkpoint` keeps it as is.
    rdd.mapPartitions(rows => Iterator.single(rows.size)).collect()
    val vectors = org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(spark, rdd, schema)
    IvfModel(dim, vectors, cents1(0L), baseIds, partitions, queryCounter = 0L)
  }
}
