package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition metadata (reference `BasePartition` minus the vector
  * payload, quake_min.py:38-44): the payload lives in the distributed
  * `vectors` table; only O(#partitions · d) floats of metadata stay on the
  * driver — at 100 TB scale that is still a few MB for thousands of
  * partitions, which is exactly the small side you want to broadcast.
  *
  * `pid` equals the partition's index in [[IvfModel.partitions]] (the
  * reference indexes `base_parts` by position; we keep that invariant so
  * split/merge bookkeeping matches, quake_min.py:182-188).
  */
final case class PartitionMeta(
    pid: Long,
    coarseId: Long,
    centroid: Array[Float],
    size: Long,
    hits: Long,
    lastSplitAt: Long)

/** Immutable snapshot of the two-level IVF index (reference `AdaptiveIVF`
  * state, quake_min.py:51-64). Mutation (insert/delete/split/merge/hits)
  * produces a NEW model — versioned metadata instead of in-place arrays, so
  * every epoch is a replayable Catalyst plan.
  *
  *  - `vectors`: the big table `(vec_id long, embedding array<float>,
  *    partition_id long)` — distributed, cache/persist at the caller's
  *    discretion; on disk it is Parquet partitioned by `partition_id` so
  *    probe joins prune file groups.
  *  - `coarseBaseIds`: insert-routing lists (reference `CoarseCell.base_ids`,
  *    quake_min.py:46-49). NOTE the reference never registers split-born
  *    partitions here (quake_min.py:183-184 appends to `base_parts` only) —
  *    we reproduce that quirk, so routing and `partitions` can diverge.
  *  - `id2loc` has no analog: a delete filters a broadcast id set out of
  *    `vectors` (SURVEY.md §2 O9).
  */
final case class IvfModel(
    dim: Int,
    vectors: DataFrame,
    coarseCentroids: Array[Array[Float]],
    coarseBaseIds: Map[Long, Vector[Long]],
    partitions: Vector[PartitionMeta],
    queryCounter: Long) {

  /** Metadata as a small DataFrame for broadcast joins in scoring. */
  def partitionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    partitions
      .map(p => (p.pid, p.coarseId, p.centroid.toSeq, p.size, p.hits, p.lastSplitAt))
      .toDF("partition_id", "coarse_id", "centroid", "psize", "hits", "last_split_at")
  }

  def totalVectors: Long = partitions.map(_.size).sum
}

object IvfModel {
  /** Persist the index: vectors as `partition_id`-partitioned Parquet (so a
    * probed-set join prunes whole partitions at scan time), metadata tables
    * alongside. */
  def save(spark: SparkSession, model: IvfModel, path: String): Unit = {
    import spark.implicits._
    model.vectors
      // co-locate rows with their output directory before the partitioned
      // write: without this every task writes a sliver into every
      // partition dir — O(tasks × partitions) tiny files, the classic
      // small-files problem; with it, one file per partition directory
      .repartition(col("partition_id"))
      .write.mode("overwrite")
      .partitionBy("partition_id")
      .parquet(s"$path/vectors")
    model
      .partitionsDf(spark)
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$path/partitions")
    model.coarseCentroids.zipWithIndex
      .map { case (c, i) =>
        (i.toLong, c.toSeq, model.coarseBaseIds.getOrElse(i.toLong, Vector.empty))
      }
      .toSeq
      .toDF("coarse_id", "centroid", "base_ids")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$path/coarse")
    Seq((model.dim, model.queryCounter))
      .toDF("dim", "query_counter")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$path/meta")
  }

  def load(spark: SparkSession, path: String): IvfModel = {
    val vectors = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id"), col("embedding"), col("partition_id").cast("long"))
    val parts = spark.read.parquet(s"$path/partitions").collect()
      .map { r =>
        PartitionMeta(
          r.getAs[Long]("partition_id"),
          r.getAs[Long]("coarse_id"),
          r.getAs[Seq[Float]]("centroid").toArray,
          r.getAs[Long]("psize"),
          r.getAs[Long]("hits"),
          r.getAs[Long]("last_split_at"))
      }
      .sortBy(_.pid)
      .toVector
    val coarseRows = spark.read.parquet(s"$path/coarse").collect().sortBy(_.getAs[Long]("coarse_id"))
    val cents = coarseRows.map(_.getAs[Seq[Float]]("centroid").toArray)
    val baseIds = coarseRows
      .map(r => r.getAs[Long]("coarse_id") -> r.getAs[Seq[Long]]("base_ids").toVector)
      .toMap
    val meta: Row = spark.read.parquet(s"$path/meta").collect().head
    IvfModel(meta.getAs[Int]("dim"), vectors, cents, baseIds, parts, meta.getAs[Long]("query_counter"))
  }
}
