package graft.index

import graft.vector.{KMeans, VectorOps, VectorSums}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Hotness-driven split / nearest-pair merge maintenance (reference
  * `maintain`, quake_min.py:170-210 ∥ adaptive_ivf.mjs:306-362).
  *
  * Reproduced quirks (deliberate — behavioral fidelity, SURVEY.md §4):
  *  - hotness = `hits − last_split_at` compares a hit COUNT against a
  *    query-counter TIMESTAMP (quake_min.py:173);
  *  - dynamic threshold `split_size / max(1, hotness/2000)` clamped to
  *    `[split_size/1.5, split_size·2]` (quake_min.py:174-175);
  *  - split children start with `hits = 0` but `last_split_at =
  *    query_counter` (fresh dataclass, quake_min.py:180-188), and the new
  *    sibling is NEVER added to a coarse cell's routing list
  *    (quake_min.py:183-184);
  *  - the merge loop's `used` set is never populated (quake_min.py:190-200),
  *    so every tiny partition greedily absorbs its CURRENT nearest tiny
  *    partner in sequence — absorption chains included;
  *  - merged-away partitions remain as zero-row husks with stale centroids
  *    (quake_min.py:209-210) and keep their hit counters.
  *
  * Spark shape: all split 2-means run as ONE grouped k-means pass
  * ([[graft.vector.KMeans.fitGrouped]], group = partition_id); the merge
  * pairing runs driver-side over the tiny metadata set (tiny by
  * construction) and applies as a single broadcast remap of
  * `partition_id` — no shuffle of the vector payload beyond the remapped
  * rows' new grouping.
  */
object IvfMaintain {
  val SplitSize = 3000L
  val MergeSize = 300L
  val HotSplitMultiplier = 1.5
  val HotQpsWindow = 2000.0

  /** Reference's dynamic split threshold (quake_min.py:173-175), including
    * the hits-vs-timestamp hotness quirk: `split_size / max(1, hotness/w)`
    * clamped to `[split_size/1.5, split_size*2]`. */
  private[graft] def splitThreshold(
      hits: Long,
      lastSplitAt: Long,
      hotQpsWindow: Double,
      splitSize: Long): Double = {
    val hotness = (hits - lastSplitAt).toDouble
    val raw = splitSize / math.max(1.0, hotness / hotQpsWindow)
    math.max(splitSize / HotSplitMultiplier, math.min(splitSize * 2.0, raw))
  }

  /** `compactHusks` defaults ON: the engine path compacts merged-away
    * husks (the r8/r9 A/B measured nprobe 6.8 vs 13.8 at equal recall —
    * dead metadata costs every query forever). Reference fidelity —
    * husks kept, quake_min.py:209-210 — stays available behind
    * `compactHusks = false`, which is what the BASELINE replay passes so
    * its numbers stay protocol-comparable to the reference's. */
  def maintain(
      model: IvfModel,
      hotQpsWindow: Double = HotQpsWindow,
      splitSize: Long = SplitSize,
      mergeSize: Long = MergeSize,
      compactHusks: Boolean = true): IvfModel = {
    val afterSplit = splitHot(model, hotQpsWindow, splitSize)
    val merged = mergeTiny(afterSplit, mergeSize)
    if (compactHusks) compact(merged) else merged
  }

  /** [engine-added] Drop zero-size husk partitions and renumber pids
    * densely. The reference NEVER removes husks (quake_min.py:209-210) —
    * they linger in `base_parts` and get scored on every query forever —
    * `maintain(compactHusks = false)` reproduces that quirk; the engine
    * default compacts, because long-running indexes would otherwise
    * accumulate dead metadata without bound. */
  private[graft] def compact(model: IvfModel): IvfModel = {
    val live = model.partitions.filter(_.size > 0L)
    if (live.length == model.partitions.length) return model
    val newPid: Map[Long, Long] = live.zipWithIndex.map { case (p, i) => p.pid -> i.toLong }.toMap
    val parts = live.zipWithIndex.map { case (p, i) => p.copy(pid = i.toLong) }
    val baseIds = model.coarseBaseIds.map { case (c, pids) =>
      c -> pids.flatMap(newPid.get)
    }
    model.copy(
      vectors = model.vectors.withColumn(
        "partition_id",
        coalesce(try_element_at(typedLit(newPid), col("partition_id")), col("partition_id"))),
      partitions = parts,
      coarseBaseIds = baseIds)
  }

  /** Split phase (quake_min.py:171-188). */
  private[graft] def splitHot(model: IvfModel, hotQpsWindow: Double, splitSize: Long = SplitSize): IvfModel = {
    val toSplit = model.partitions.filter { p =>
      p.size >= splitThreshold(p.hits, p.lastSplitAt, hotQpsWindow, splitSize) && p.size >= 16
    }
    if (toSplit.isEmpty) return model

    val splitPids = toSplit.map(_.pid).toSet
    val subset = model.vectors.filter(col("partition_id").isInCollection(splitPids)).cache()
    val (_, halfCents) = KMeans.fitGrouped(
      subset, "partition_id", "vec_id", "embedding",
      kFor = splitPids.map(_ -> 2).toMap, iters = 8, seed = 17L)

    // (mean, count) of each half in one shuffle-free pass over the cached
    // subset: nearest final centroid is the assignment `fitGrouped`
    // returns in `cluster`, on its local and distributed paths alike.
    val schema = model.vectors.schema
    val pidIdx = schema.fieldIndex("partition_id")
    val embIdx = schema.fieldIndex("embedding")
    val halves = VectorSums.of(subset, "embedding") { () => r =>
      val pid = r.getLong(pidIdx)
      halfCents.get(pid).map(cs => (pid, KMeans.nearest(cs, r.getArray(embIdx).toFloatArray())))
    }.means

    // Only partitions whose BOTH halves are non-empty actually split
    // (quake_min.py:179); iterate ascending pid like the reference's
    // enumerate loop so new sibling pids append in the same order.
    var parts = model.partitions
    val siblingOf = mutable.Map.empty[Long, Long] // parent pid -> new sibling pid
    toSplit.sortBy(_.pid).foreach { p =>
      (halves.get((p.pid, 0)), halves.get((p.pid, 1))) match {
        case (Some((c0, n0)), Some((c1, n1))) =>
          val newPid = parts.length.toLong
          siblingOf(p.pid) = newPid
          parts = parts
            .updated(p.pid.toInt, PartitionMeta(p.pid, p.coarseId, c0, n0, hits = 0L, lastSplitAt = model.queryCounter))
            .appended(PartitionMeta(newPid, p.coarseId, c1, n1, hits = 0L, lastSplitAt = model.queryCounter))
        case _ => // degenerate 2-means; leave as-is
      }
    }
    subset.unpersist()
    if (siblingOf.isEmpty) return model

    // Map-side move over the table, with the same assignment as the halves
    // pass: a row of a split partition goes to the new sibling when its
    // nearest final centroid is half 1. Every other row passes as is.
    val moves = siblingOf.map { case (pid, sib) => pid -> (sib, halfCents(pid)) }.toMap
    val rows = model.vectors.queryExecution.toRdd.mapPartitions(_.map { r =>
      if (r.isNullAt(pidIdx) || r.isNullAt(embIdx)) r
      else
        moves.get(r.getLong(pidIdx)) match {
          case Some((sib, cs)) if KMeans.nearest(cs, r.getArray(embIdx).toFloatArray()) == 1 =>
            val out = r.copy()
            out.setLong(pidIdx, sib)
            out
          case _ => r
        }
    })
    model.copy(
      vectors = GraftSqlBridge.internalCreateDataFrame(model.vectors.sparkSession, rows, schema),
      partitions = parts)
  }

  /** Merge phase (quake_min.py:189-210): exact sequential greedy replay on
    * driver-side metadata, then one distributed pid remap. */
  private[graft] def mergeTiny(model: IvfModel, mergeSize: Long = MergeSize): IvfModel = {
    val metas = mutable.ArrayBuffer.from(model.partitions)
    val tiny = metas.filter(_.size <= mergeSize).map(_.pid).toVector
    if (tiny.size < 2) return model

    // home(origPid) = pid currently holding that partition's vectors
    val home = mutable.Map.from(metas.map(p => p.pid -> p.pid))

    for (i <- tiny) {
      val ci = metas(i.toInt).centroid
      var bestJ = -1L
      var bestD = Double.PositiveInfinity
      for (j <- tiny if j != i) {
        val d = VectorOps.l2Sq(ci, metas(j.toInt).centroid)
        if (d < bestD) { bestD = d; bestJ = j }
      }
      if (bestJ >= 0) {
        val pi = metas(i.toInt)
        val pj = metas(bestJ.toInt)
        val n = pi.size + pj.size
        val c =
          if (n == 0) pi.centroid
          else {
            val out = new Array[Float](pi.centroid.length)
            var d = 0
            while (d < out.length) {
              out(d) = ((pi.centroid(d).toDouble * pi.size + pj.centroid(d).toDouble * pj.size) / n).toFloat
              d += 1
            }
            out
          }
        metas(i.toInt) = pi.copy(centroid = c, size = n)
        metas(bestJ.toInt) = pj.copy(size = 0L) // husk: stale centroid, hits kept
        // vectors currently homed at j move to i (chains reproduce the
        // reference's unpopulated `used` set)
        home.keys.foreach { k => if (home(k) == bestJ) home(k) = i }
      }
    }

    val moves = home.filter { case (k, v) => k != v }.toMap
    if (moves.isEmpty) return model
    model.copy(
      vectors = model.vectors.withColumn(
        "partition_id",
        coalesce(try_element_at(typedLit(moves), col("partition_id")), col("partition_id"))),
      partitions = metas.toVector)
  }
}
