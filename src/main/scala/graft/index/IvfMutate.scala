package graft.index

import graft.vector.{VectorOps, VectorSums}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.LogicalRDD
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
  * and the routed batch is stored once and appended to the table without
  * a copy. Deletes filter a broadcast id set out of the table into a
  * stored copy — unknown ids are naturally no-ops (quake_min.py:113).
  * Touched partitions get their centroid recomputed as the exact mean of
  * their members, matching `np.mean` recompute (quake_min.py:108, 122), by
  * one shuffle-free scan that sums only the touched partitions (for a
  * delete, the same pass that stores the survivors); every other partition
  * keeps its metadata verbatim. A write therefore costs its batch plus one
  * pass over the table; a delete, and an insert over a stored table,
  * return a table [[checkpoint]] does not copy.
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
    // Materialized by the route-pair job below, which reads the batch once.
    routed.localCheckpoint()

    // ONE driver collect serves both routing outcomes: the distinct
    // (cell, pid) pairs are bounded by the number of partitions a batch
    // touches, and from them the driver derives the empty-cell set AND the
    // touched-pid set.
    val routePairs: Array[(Long, Option[Long])] = routed
      .mapPartitions(_.map(r => (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet.iterator)
      .collect().distinct
    if (routePairs.isEmpty) return model
    // Dense pids for empty cells that actually received vectors this batch.
    val hitEmptyCells = routePairs.collect { case (c, None) => c }.distinct.sorted
    val newPidFor: Map[Long, Long] =
      hitEmptyCells.zipWithIndex.map { case (c, i) => c -> (model.partitions.length + i).toLong }.toMap

    // The batch in the table's columns, stored by the stats pass below.
    val base =
      if (model.vectors.columns.toSeq == Columns) model.vectors else model.vectors.select(Columns.map(col): _*)
    val batchSchema = StructType(Seq(leafSchema(0), leafSchema(1), StructField("partition_id", LongType, nullable = false)))
    val batch = routed.mapPartitions { rows =>
      val proj = UnsafeProjection.create(batchSchema)
      rows.map { r =>
        val pid = if (r.isNullAt(3)) newPidFor(r.getLong(2)) else r.getLong(3)
        proj(InternalRow(if (r.isNullAt(0)) null else r.getLong(0), r.getArray(1), pid)).copy(): InternalRow
      }
    }
    batch.localCheckpoint()
    // Nullable wherever either side is, as a union of the two would be.
    val schema = base.unionByName(GraftSqlBridge.internalCreateDataFrame(spark, batch, batchSchema)).schema
    val newVectors = GraftSqlBridge.internalCreateDataFrame(spark, append(base, batch), schema)
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

  private val Columns = Seq("vec_id", "embedding", "partition_id")

  /** Lineage + RDD-partition compaction for a long-lived mutable index.
    *
    * Returns `model` itself, with no job, when `vectors` is a leaf: a
    * `LogicalRDD` over stored (checkpointed) rows in at most
    * `defaultParallelism` RDD partitions — one stored table, or a stored
    * table plus the one stored batch an [[insert]] appended to it. Every
    * [[delete]] and every insert over a stored table returns one. A caller's
    * `cache()` never makes a table a leaf: callers unpersist superseded
    * tables, and a view over a cache would lose its rows with it.
    *
    * Anything else is coalesced (shuffle-free) to the session's
    * parallelism and `localCheckpoint`ed: an insert over a cached table, a
    * distributed-build table or a view (so a run of inserts copies on every
    * second one), and each `maintain` that changed `vectors`. Without the
    * coalesce, a table mutated for hundreds of epochs accumulates sliver
    * partitions and every job pays one task per sliver: O(epochs²)
    * scheduler work across a replay (measured on the sf0.1 replay: 32 → 832
    * RDD partitions within 25 micro-batches; insert and delete each
    * degraded ~2×).
    *
    * Callers own cache lifecycle: unpersist the superseded `vectors` AFTER
    * this returns (it is an input of the copy until then), and only when it
    * is not the returned table. Unpersisting frees a caller's `cache()`
    * only; stored blocks (this copy's, a write's, the local build's) are
    * freed when the driver's ContextCleaner collects their RDD after it is
    * no longer referenced.
    */
  def checkpoint(model: IvfModel): IvfModel =
    if (isLeaf(model.vectors)) model
    else {
      val target = model.vectors.sparkSession.sparkContext.defaultParallelism
      model.copy(vectors = model.vectors.coalesce(target).localCheckpoint(eager = true))
    }

  private def isLeaf(vectors: DataFrame): Boolean = vectors.queryExecution.logical match {
    case r: LogicalRDD =>
      // an [[append]] view reads its base and batch through one UnionRDD
      val parts = r.rdd.dependencies match {
        case Seq(d) if d.rdd.isInstanceOf[UnionRDD[_]] => d.rdd.asInstanceOf[UnionRDD[_]].rdds
        case _                                         => Seq(r.rdd)
      }
      parts.length <= 2 && parts.forall(_.isCheckpointed) &&
        parts.head.getNumPartitions <= vectors.sparkSession.sparkContext.defaultParallelism
    case _ => false
  }

  /** `base`'s rows, then `batch`'s, without a copy: an ordered coalesce of
    * their union keeps one RDD partition per base partition and adds the
    * batch's to the last one. A stored base is read as its own RDD, so the
    * union sees its checkpointed blocks. */
  private def append(base: DataFrame, batch: RDD[InternalRow]): RDD[InternalRow] = {
    val rows = base.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
      case _                                     => base.queryExecution.toRdd
    }
    val nBase = rows.getNumPartitions
    new UnionRDD(batch.sparkContext, Seq(rows, batch))
      .coalesce(math.max(1, nBase), shuffle = false, Some(AfterLastPartition(nBase)))
  }

  /** Union partitions in order, one group per base partition; the rest
    * (the appended batch's) join the last group. */
  private final case class AfterLastPartition(nBase: Int) extends PartitionCoalescer {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val groups = Array.fill(math.max(1, nBase))(new PartitionGroup())
      parent.partitions.zipWithIndex.foreach { case (p, i) => groups(math.min(i, groups.length - 1)).partitions += p }
      groups
    }
  }

  /** Batch delete by id; unknown ids no-op. Emptied partitions stay as
    * husks with their last centroid (reference quake_min.py:121-122 skips
    * the centroid recompute when a partition empties). */
  def delete(model: IvfModel, ids: DataFrame): IvfModel = {
    // The touched partitions come from the batch, not from the corpus: the
    // ids go to the driver once and ship as one broadcast set; a map-side
    // semi-join over the table keeps only the `partition_id` of each
    // deleted row, so the collect is batch-sized.
    val gone = ids.select(col("vec_id").cast("long")).collect()
      .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    if (gone.isEmpty) return model
    val spark = model.vectors.sparkSession
    val sc = spark.sparkContext
    val goneB = sc.broadcast(gone)
    val schema = model.vectors.schema
    val vidIdx = schema.fieldIndex("vec_id")
    val pidIdx = schema.fieldIndex("partition_id")
    val table = model.vectors.queryExecution.toRdd
    val touched = table
      .mapPartitions { rows =>
        val g = goneB.value
        rows.filter(r => !r.isNullAt(vidIdx) && g.contains(r.getLong(vidIdx))).map(_.getLong(pidIdx))
      }
      .collect().toSet
    if (touched.isEmpty) return model

    // ONE pass stores the survivors (a leaf in at most `defaultParallelism`
    // RDD partitions, so the caller's checkpoint does not copy them) and
    // sums the touched partitions' surviving members: the reference's exact
    // np.mean recompute (quake_min.py:108,122) for those partitions only.
    // Untouched partitions keep their stored centroid verbatim, so no
    // float-summation drift is introduced elsewhere.
    val target = sc.defaultParallelism
    val survivors = (if (table.getNumPartitions > target) table.coalesce(target) else table)
      .mapPartitions { rows =>
        val g = goneB.value
        rows.filter(r => r.isNullAt(vidIdx) || !g.contains(r.getLong(vidIdx))).map(_.copy())
      }
    survivors.localCheckpoint()
    val after = partitionStats(GraftSqlBridge.internalCreateDataFrame(spark, survivors, schema), touched)
    // A new frame over the stored survivors: the stats frame's plan kept the
    // RDD partitions it saw before the store, and through them the input
    // table, which would then stay in memory as long as the returned one.
    val newVectors = GraftSqlBridge.internalCreateDataFrame(spark, survivors, schema)
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
    * [[IvfSearch.scanTopKLocal]]) that sums the members of `pids` only, and
    * materializes whatever `vectors` marked for checkpointing. A requested
    * partition with no members is absent from the result. */
  private def partitionStats(vectors: DataFrame, pids: Set[Long]): Map[Long, (Array[Float], Long)] = {
    if (pids.isEmpty) return Map.empty
    val pidIdx = vectors.schema.fieldIndex("partition_id")
    VectorSums.of(vectors, "embedding") { () => r =>
      if (!r.isNullAt(pidIdx) && pids.contains(r.getLong(pidIdx))) Some(r.getLong(pidIdx)) else None
    }.means
  }
}
