package graft.index

import graft.vector.{VectorOps, VectorSums}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Online mutation, micro-batch flavored (reference does row-at-a-time
  * method calls, quake_min.py:92-125; Spark semantics are preserved at
  * batch granularity — SURVEY.md §7.4).
  *
  * Inserts route through the two-level centroid hierarchy exactly like the
  * reference (coarse argmin → base argmin within the cell's routing list,
  * quake_min.py:93-104, including the empty-cell → new partition branch,
  * quake_min.py:96-102). Routing is map-side: each batch row takes both
  * argmins against broadcast centroid tables in one shuffle-free pass,
  * and the routed batch is materialized once as a batch-sized leaf.
  * Deletes are anti-joins — unknown ids are naturally no-ops
  * (quake_min.py:113). Touched partitions get their centroid recomputed as
  * the exact mean of their members, matching `np.mean` recompute
  * (quake_min.py:108, 122), by one shuffle-free scan that sums only the
  * touched partitions; every other partition keeps its metadata verbatim.
  * A write therefore costs O(batch + touched partitions), not a
  * corpus-wide aggregation.
  */
object IvfMutate {

  /** Batch insert.
    *
    * Wrong-dimension vectors are rejected up front (the reference would
    * crash on them mid-broadcast, quake_min.py:106; silently accepting them
    * would poison top-k with NULL distances). Empty coarse cells spawn one
    * new partition per cell — but, unlike a pre-assignment scheme, pids are
    * handed out only to cells that actually RECEIVED vectors in this batch,
    * numbered densely from `partitions.length` in cell order, so the
    * pid-equals-index invariant of [[IvfModel.partitions]] always holds.
    *
    * @param adds `(vec_id long, embedding array<float>)`, ids fresh (a
    *             repeated id is inserted once per row). */
  def insert(model: IvfModel, adds: DataFrame): IvfModel = {
    val spark = adds.sparkSession
    val sc = spark.sparkContext

    val clean = adds
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(VectorOps.hasDim(col("embedding"), model.dim))

    // Broadcast centroid tables (metadata-sized even at 100 TB). Routing
    // list per the reference's CoarseCell.base_ids (split-born siblings are
    // deliberately absent — quake_min.py:183-184 quirk).
    val coarseB = sc.broadcast(model.coarseCentroids)
    val routesB = sc.broadcast(Array.tabulate(model.coarseCentroids.length) { c =>
      model.coarseBaseIds.getOrElse(c.toLong, Vector.empty)
        .map(p => (p, model.partitions(p.toInt).centroid)).toArray
    })
    // pid0 is NULL for a cell with an empty routing list (new-partition branch).
    val leafSchema = StructType(Seq(
      StructField("vec_id", LongType),
      clean.schema("embedding"),
      StructField("coarse_id", LongType, nullable = false),
      StructField("pid0", LongType)))

    // One pass per batch row: nearest coarse cell, then nearest base
    // partition in that cell's routing list. `L2Squared`'s arithmetic
    // (double accumulation in index order); ties → lowest id, like
    // np.argmin (routing lists are not sorted by pid).
    val routed = clean.queryExecution.toRdd.mapPartitions { rows =>
      val cents = coarseB.value
      val routes = routesB.value
      val proj = UnsafeProjection.create(leafSchema)
      rows.map { r =>
        val emb = r.getArray(1)
        val v = emb.toFloatArray()
        var cell = 0
        var best = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          val d = VectorOps.l2Sq(v, cents(c))
          if (d < best) { best = d; cell = c }
          c += 1
        }
        var pid0 = -1L
        best = Double.PositiveInfinity
        routes(cell).foreach { case (pid, cent) =>
          val d = VectorOps.l2Sq(v, cent)
          if (pid0 < 0 || d < best || (d == best && pid < pid0)) { best = d; pid0 = pid }
        }
        val id = if (r.isNullAt(0)) null else r.getLong(0)
        proj(InternalRow(id, emb, cell.toLong, if (pid0 < 0) null else pid0)).copy(): InternalRow
      }
    }
    // Materialized by the route-pair job below; the stats and the caller's
    // checkpoint then read these blocks instead of re-routing.
    routed.localCheckpoint()

    // ONE driver collect serves both routing outcomes: the distinct
    // (cell, pid) pairs are bounded by the number of partitions a batch
    // touches, and from them the driver derives the empty-cell set AND the
    // touched-pid set.
    val routePairs: Array[(Long, Option[Long])] = routed
      .mapPartitions(_.map(r => (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet.iterator)
      .collect().distinct
    // Dense pids for empty cells that actually received vectors this batch.
    val hitEmptyCells = routePairs.collect { case (c, None) => c }.distinct.sorted
    val newPidFor: Map[Long, Long] =
      hitEmptyCells.zipWithIndex.map { case (c, i) => c -> (model.partitions.length + i).toLong }.toMap
    val pidExpr =
      if (newPidFor.isEmpty) col("pid0")
      else coalesce(col("pid0"), try_element_at(typedLit(newPidFor), col("coarse_id")))

    val newRows = GraftSqlBridge.internalCreateDataFrame(spark, routed, leafSchema)
      .withColumn("partition_id", pidExpr)
      .select("vec_id", "embedding", "partition_id")

    // No full-table cache here: the union's parent is the caller's cached /
    // checkpointed table and `newRows` is a projection of the materialized
    // batch, so re-deriving the union per consumer is one cheap concat —
    // whereas materializing an InMemoryRelation copies the ENTIRE
    // collection every mutation epoch (at index scale, a non-starter).
    // Long-lived callers bound the union chain with [[checkpoint]].
    val newVectors = model.vectors.unionByName(newRows)
    val touched = routePairs.map { case (c, p) => p.getOrElse(newPidFor(c)) }.toSet
    val updated = partitionStats(newVectors, touched)

    // Existing partitions refreshed; brand-new partitions appended in pid order.
    val existing = model.partitions.map { p =>
      updated.get(p.pid).map { case (c, n) => p.copy(centroid = c, size = n) }.getOrElse(p)
    }
    val fresh = newPidFor.toVector.sortBy(_._2).map { case (cell, pid) =>
      val (c, n) = updated(pid)
      PartitionMeta(pid, cell, c, n, hits = 0L, lastSplitAt = 0L)
    }
    val baseIds = fresh.foldLeft(model.coarseBaseIds) { case (m, p) =>
      m.updated(p.coarseId, m.getOrElse(p.coarseId, Vector.empty) :+ p.pid)
    }
    model.copy(vectors = newVectors, partitions = existing ++ fresh, coarseBaseIds = baseIds)
  }

  /** Lineage + RDD-partition compaction for a long-lived mutable index.
    *
    * Each micro-batch mutation unions the (tiny) batch into `vectors`;
    * union concatenates the two sides' RDD partitions and `localCheckpoint`
    * preserves partitioning, so an index mutated for hundreds of epochs
    * accumulates sliver partitions — and every subsequent job on the table
    * (stats recompute, mirror collect, the next checkpoint) pays one task
    * per sliver: O(epochs) tasks per job, O(epochs²) scheduler work across
    * a replay. Measured on the sf0.1 replay this quadratic term dominated
    * wall time (32 → 832 RDD partitions within 25 micro-batches; insert and
    * delete each degraded ~2× between batch 25 and batch 50). Coalescing
    * (shuffle-free) back to the session's parallelism before truncating
    * lineage keeps per-job task counts flat for the index's lifetime.
    *
    * Callers own cache lifecycle: unpersist the superseded `vectors` AFTER
    * this materializes (it is an input of the checkpoint plan until then).
    */
  def checkpoint(model: IvfModel): IvfModel = {
    val target = model.vectors.sparkSession.sparkContext.defaultParallelism
    model.copy(vectors = model.vectors.coalesce(target).localCheckpoint(eager = true))
  }

  /** Batch delete by id; unknown ids no-op. Emptied partitions stay as
    * husks with their last centroid (reference quake_min.py:121-122 skips
    * the centroid recompute when a partition empties). */
  def delete(model: IvfModel, ids: DataFrame): IvfModel = {
    val del = ids.select(col("vec_id").cast("long").as("vec_id"))
    // Uncached for the same reason as insert's union: the anti-join's del
    // side is batch-sized (broadcast) and its parent is the caller's
    // cached / checkpointed table, so re-deriving per consumer beats
    // materializing a full-collection InMemoryRelation every epoch.
    val newVectors = model.vectors.join(broadcast(del), Seq("vec_id"), "left_anti")

    // The touched partitions come from the batch, not from the corpus: the
    // ids go to the driver once (as any broadcast side does) and ship as
    // one broadcast set; a map-side semi-join over the table keeps only the
    // `partition_id` of each deleted row, so the collect is batch-sized.
    // The exact (mean, count) recompute then sums the surviving members of
    // those partitions only. Untouched partitions keep their stored
    // centroid verbatim — only partitions whose membership changed get the
    // reference's exact np.mean recompute (quake_min.py:108,122), so no
    // float-summation drift is introduced elsewhere.
    val gone = del.collect().iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    if (gone.isEmpty) return model
    val goneB = model.vectors.sparkSession.sparkContext.broadcast(gone)
    val schema = model.vectors.schema
    val vidIdx = schema.fieldIndex("vec_id")
    val pidIdx = schema.fieldIndex("partition_id")
    val touched = model.vectors.queryExecution.toRdd
      .mapPartitions { rows =>
        val g = goneB.value
        rows.filter(r => !r.isNullAt(vidIdx) && g.contains(r.getLong(vidIdx))).map(_.getLong(pidIdx))
      }
      .collect().toSet
    if (touched.isEmpty) return model

    val after = partitionStats(model.vectors, touched, Some(goneB))
    val parts = model.partitions.map { p =>
      if (!touched.contains(p.pid)) p
      else
        after.get(p.pid) match {
          case Some((c, n)) => p.copy(centroid = c, size = n)
          case None         => p.copy(size = 0L) // husk keeps stale centroid
        }
    }
    model.copy(vectors = newVectors, partitions = parts)
  }

  /** Exact (mean, count) of the requested partitions: one shuffle-free
    * [[VectorSums]] job over `vectors` (the shape of
    * [[IvfSearch.scanTopKLocal]]) that sums the members of `pids` only.
    * Rows whose id is in `gone` count as deleted. A requested partition
    * with no members is absent from the result. */
  private def partitionStats(
      vectors: DataFrame,
      pids: Set[Long],
      gone: Option[Broadcast[Set[Long]]] = None): Map[Long, (Array[Float], Long)] = {
    if (pids.isEmpty) return Map.empty
    val schema = vectors.schema
    val vidIdx = schema.fieldIndex("vec_id")
    val pidIdx = schema.fieldIndex("partition_id")
    VectorSums.of(vectors, "embedding") { () =>
      val skip = gone.map(_.value).getOrElse(Set.empty[Long])
      r =>
        if (!r.isNullAt(pidIdx) && pids.contains(r.getLong(pidIdx)) &&
            (r.isNullAt(vidIdx) || !skip.contains(r.getLong(vidIdx)))) Some(r.getLong(pidIdx))
        else None
    }.means
  }
}
