package graft.index

import graft.vector.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batched Adaptive Partition Scanning search — the reference's flagship
  * query path (`search` → `_partition_scores` → `_choose_nprobe`,
  * quake_min.py:127-168), re-expressed as one declarative plan over a
  * whole BATCH of queries (the reference is one query at a time; batching
  * is what makes the operator throughput-scale on a cluster).
  *
  * Stages (all built-in Spark, no custom physical operators needed —
  * SURVEY.md §4):
  *  1. score: queries × broadcast(partition metadata) cross join; per-query
  *     exact `median` temperature, size-aware logits
  *     `-√d2/τ + 0.5·ln(size+1)` and a max-shift-stable softmax
  *     (quake_min.py:131-134), all as window aggregates over `query_id`.
  *  2. probe choice (APS, quake_min.py:139-145): order by probability
  *     descending, keep the minimal prefix whose cumulative mass reaches
  *     `targetRecall`, capped at `maxProbe` — a running-sum window.
  *  3. gather + rank: probed set joined to the vectors table on
  *     `partition_id` (on disk this join prunes Parquet partitions),
  *     distance expression, per-query top-k via `row_number`.
  *
  * At 100 TB: stage 1/2 touch only metadata (KB–MB, broadcast); the only
  * big-data work is stage 3, which scans exactly the probed partitions and
  * shuffles one k-row heap per query.
  */
object IvfSearch {

  final case class Params(k: Int = 10, targetRecall: Double = 0.9, maxProbe: Int = 64)

  /** Stage 1+2: per-query probed partition set.
    *
    * @param queries `(query_id long, qvec array<float>)`
    * @return `(query_id, partition_id, p, psize, qvec)` — the probe set,
    *         probability-descending rank ≤ maxProbe
    */
  def chooseProbes(model: IvfModel, queries: DataFrame, params: Params): DataFrame = {
    val spark = queries.sparkSession
    val parts = model.partitionsDf(spark).select("partition_id", "centroid", "psize")

    val wq = Window.partitionBy("query_id")
    // Reference quirk reproduced: tau already includes +1e-6, and the logit
    // divides by (tau + 1e-6) again (quake_min.py:131-132).
    val scored = queries
      .crossJoin(broadcast(parts))
      .withColumn("cd", l2Dist(col("qvec"), col("centroid")))
      .withColumn("tau", median(col("cd")).over(wq) + lit(1e-6))
      .withColumn("logit", -col("cd") / (col("tau") + lit(1e-6)) + lit(0.5) * log(col("psize") + lit(1.0)))
      .withColumn("m", max(col("logit")).over(wq))
      .withColumn("e", exp(col("logit") - col("m")))
      .withColumn("p", col("e") / sum(col("e")).over(wq))

    val wOrd = wq.orderBy(col("p").desc, col("partition_id").asc)
    scored
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cum", sum(col("p")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // keep the prefix through the first row whose cumulative mass crosses
      // the target: previous cum (cum - p) < target (quake_min.py:140-143)
      .filter(col("cum") - col("p") < params.targetRecall && col("rn") <= params.maxProbe)
      .select("query_id", "partition_id", "p", "psize", "qvec")
  }

  /** Full APS search over a query batch.
    *
    * `broadcastProbes` follows [[searchProbed]]'s contract: `true` (the
    * default) for interactive query batches, `false` for CORPUS-SIZED
    * batches (an offline k-NN-graph build feeding every indexed row back
    * as a query) where |queries|·maxProbe·d floats would be rebuilt as a
    * broadcast on every executor — those shuffle both sides on
    * `partition_id` instead (AQE still converts back to a runtime
    * broadcast when the measured probe side is actually small).
    *
    * @return `(query_id, rank, vec_id, dist2)` — rank 1..k ascending dist2
    */
  def search(
      model: IvfModel,
      queries: DataFrame,
      params: Params,
      broadcastProbes: Boolean = true): DataFrame =
    searchProbed(model, chooseProbes(model, queries, params), params, broadcastProbes)

  /** Driver-side APS probe choice for an in-memory query batch — the exact
    * same math as [[chooseProbes]] (unit-tested for parity), computed
    * locally: probe selection touches ONLY partition metadata
    * (O(#queries · #partitions) scalar ops), which is how the reference
    * treats it too (quake_min.py:127-145). Spinning distributed window
    * jobs for a few hundred metadata rows costs ~4 job launches per batch;
    * at driver scale this is microseconds. The DataFrame path remains the
    * right choice when the query batch itself is distributed data.
    *
    * @return (query_id, partition_id, psize) triples, probability-desc order
    */
  def chooseProbesLocal(
      model: IvfModel,
      queries: Seq[(Long, Array[Float])],
      params: Params): Seq[(Long, Long, Long)] =
    queries.flatMap { case (qid, q) =>
      val cds = model.partitions.map { p =>
        var s = 0.0
        var i = 0
        val c = p.centroid
        val n = math.min(c.length, q.length)
        while (i < n) { val d = q(i).toDouble - c(i); s += d * d; i += 1 }
        math.sqrt(s)
      }
      // exact median (Spark `median`: mean of the two middles on even n)
      val sorted = cds.sorted
      val m = sorted.length
      val med = if (m % 2 == 1) sorted(m / 2) else (sorted(m / 2 - 1) + sorted(m / 2)) / 2.0
      val tau = med + 1e-6
      // reference quirk: the logit divides by (tau + 1e-6) AGAIN
      val logits = model.partitions.zip(cds).map { case (p, cd) =>
        -cd / (tau + 1e-6) + 0.5 * math.log(p.size + 1.0)
      }
      val mx = logits.max
      val es = logits.map(l => math.exp(l - mx))
      val z = es.sum
      val ranked = model.partitions.zip(es.map(_ / z))
        .sortBy { case (p, prob) => (-prob, p.pid) }
      var cum = 0.0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var r = 0
      while (r < ranked.length && r < params.maxProbe && cum < params.targetRecall) {
        val (p, prob) = ranked(r)
        cum += prob
        out += ((qid, p.pid, p.size))
        r += 1
      }
      out
    }

  /** Stage 3 alone, for callers that precompute (and e.g. cache) the probe
    * set — the replay harness reuses it for hit accounting + metrics.
    *
    * By default the probe set (≤ maxProbe rows per query) is explicitly
    * broadcast: the big side of the gather join must stay un-shuffled at
    * corpus scale, and probe-set stats coming out of window aggregates are
    * opaque enough that the planner can pick a sort-merge join otherwise.
    * For a query batch so large that `|queries| · maxProbe · d` floats
    * exceed executor memory, pass `broadcastProbes = false` and let the
    * planner shuffle both sides on `partition_id` instead. */
  def searchProbed(
      model: IvfModel,
      probes: DataFrame,
      params: Params,
      broadcastProbes: Boolean = true): DataFrame = {
    val probeSide = probes.select("query_id", "partition_id", "qvec")
    // The non-broadcast (corpus-sized-batch) path hints SHUFFLE_HASH, not
    // sort-merge: the probe side is the provably smaller side (≤ maxProbe
    // rows per query vs the scanned corpus), and partition_id has only
    // #partitions distinct values, so an SMJ must sort BOTH sides and
    // hold those sorts open in the same stage as the top-k aggregation's
    // own sort-based fallback (ObjectHashAggregate falls back past 128
    // keys) — at the 10× measured point the three co-resident sorts
    // exhausted execution memory. A shuffled hash join builds only the
    // per-task probe map (|queries|·nprobe/numPartitions rows — sized by
    // the shuffle-partition knob like any build side) and streams the
    // corpus through it, sort-free.
    topkOverCandidates(
      model.vectors
        .join(
          if (broadcastProbes) broadcast(probeSide) else probeSide.hint("shuffle_hash"),
          Seq("partition_id")),
      params.k)
  }

  /** Full search with DRIVER-SIDE probe choice and a static
    * `partition_id IN (…)` pushdown on the vectors scan: when the index is
    * a `partition_id`-partitioned Parquet table ([[IvfModel.save]]), the
    * union of probed pids becomes a PartitionFilter and unprobed partition
    * directories are never read — the on-disk realization of the
    * reference's "scan only the probed partitions" (quake_min.py:151-160).
    * The per-query probe set is then re-applied by the equi-join, so
    * results are identical to [[search]]. */
  def searchPruned(
      model: IvfModel,
      queries: Seq[(Long, Array[Float])],
      params: Params): DataFrame = {
    val spark = model.vectors.sparkSession
    import spark.implicits._
    val probes = chooseProbesLocal(model, queries, params)
    val pids = probes.map(_._2).distinct
    val probesDf = probes.map { case (qid, pid, _) => (qid, pid) }.toDF("query_id", "partition_id")
    val queriesDf = queries.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "qvec")
    topkOverCandidates(
      model.vectors
        .filter(col("partition_id").isInCollection(pids))
        .join(broadcast(probesDf.join(queriesDf, "query_id")), Seq("partition_id")),
      params.k)
  }

  /** Batched-scan top-k for an in-memory query batch: ONE pass over the
    * vectors table with the query batch broadcast, fused distance loops,
    * and a bounded per-(query, map-partition) heap — no join
    * materialization (the join form copies qvec+embedding per candidate
    * row: ~1 KB × |scanned| × |queries| through the shuffle, which is what
    * a BLAS matmul avoids on one node). Shuffle here is zero: map
    * partitions emit ≤ k rows per query, merged exactly on the driver.
    * This is the Spark shape of the reference's `l2_batch` over the
    * gathered candidate matrix (quake_min.py:159-163) for driver-sized
    * query batches; the join/aggregator path remains for distributed
    * query tables.
    *
    * @param probing pid → indices (into `queries`) of the queries probing
    *                it; pass `null` to scan every partition for every
    *                query (= exact top-k)
    * @return (query_id, rank, vec_id, dist2) rows, exact (dist2, vec_id)
    *         global order per query
    */
  def scanTopKLocal(
      vectors: DataFrame,
      queries: IndexedSeq[(Long, Array[Float])],
      probing: Map[Long, Array[Int]],
      k: Int): Array[(Long, Int, Long, Double)] = {
    val spark = vectors.sparkSession
    val sc = spark.sparkContext
    val qB = sc.broadcast(queries.map(_._2).toArray)
    val pB = sc.broadcast(probing)
    val nQ = queries.length
    val schema = vectors.schema
    val vecIdIdx = schema.fieldIndex("vec_id")
    val embIdx = schema.fieldIndex("embedding")
    val pidIdx = schema.fieldIndex("partition_id")

    val partial: Array[Array[(Double, Long)]] = vectors.queryExecution.toRdd
      .mapPartitions { rows =>
        val qs = qB.value
        val probes = pB.value
        // per-query bounded candidate lists (insertion into k-sorted array)
        val ds = Array.fill(nQ)(Array.fill(k)(Double.MaxValue))
        val ids = Array.fill(nQ)(Array.fill(k)(Long.MaxValue))
        rows.foreach { r =>
          val pid = r.getLong(pidIdx)
          val qIdxs: Array[Int] =
            if (probes == null) null else probes.getOrElse(pid, Array.empty[Int])
          if (probes == null || qIdxs.nonEmpty) {
            val v = r.getArray(embIdx).toFloatArray()
            val vid = r.getLong(vecIdIdx)
            var t = 0
            val bound = if (probes == null) nQ else qIdxs.length
            while (t < bound) {
              val qi = if (probes == null) t else qIdxs(t)
              val q = qs(qi)
              var s = 0.0
              var i = 0
              val n = math.min(q.length, v.length)
              while (i < n) { val d = q(i).toDouble - v(i); s += d * d; i += 1 }
              val dk = ds(qi)
              val ik = ids(qi)
              // beats the current worst (ties → lower vec_id wins)?
              if (s < dk(k - 1) || (s == dk(k - 1) && vid < ik(k - 1))) {
                var j = k - 1
                while (j > 0 && (s < dk(j - 1) || (s == dk(j - 1) && vid < ik(j - 1)))) {
                  dk(j) = dk(j - 1); ik(j) = ik(j - 1); j -= 1
                }
                dk(j) = s; ik(j) = vid
              }
              t += 1
            }
          }
        }
        Iterator.single(Array.tabulate(nQ) { qi =>
          ds(qi).zip(ids(qi)).filter(_._2 != Long.MaxValue)
        })
      }
      .fold(Array.fill(nQ)(Array.empty[(Double, Long)])) { (a, b) =>
        Array.tabulate(nQ)(qi => (a(qi) ++ b(qi)).sortBy(identity).take(k))
      }

    queries.indices.flatMap { qi =>
      partial(qi).sortBy(identity).take(k).zipWithIndex.map { case ((d, vid), r) =>
        (queries(qi)._1, r + 1, vid, d)
      }
    }.toArray
  }

  /** Driver-resident mirror scan — identical semantics and output to
    * [[scanTopKLocal]] (parity-tested) over pre-collected rows. The
    * adaptive fast path for DRIVER-SIZED collections, where a Spark job
    * launch (~10² ms of scheduling/broadcast/closure work) dwarfs the
    * arithmetic a query batch actually needs (~10⁰ ms) — exactly the
    * regime the single-node reference operates in (quake_min.py:147-168
    * is an in-process scan). The distributed [[scanTopKLocal]] remains the
    * path once the collection outgrows driver memory; threading mirrors
    * its map-partition structure (chunk partials → ordered merge), so
    * results are bit-identical under any chunking.
    *
    * @param rows (partition_id, vec_id, vec) mirror of the vectors table
    */
  def scanTopKDriver(
      rows: IndexedSeq[(Long, Long, Array[Float])],
      queries: IndexedSeq[(Long, Array[Float])],
      probing: Map[Long, Array[Int]],
      k: Int): Array[(Long, Int, Long, Double)] = {
    val nQ = queries.length
    val qs = queries.map(_._2).toArray
    val nThreads = graft.WorkPool.size
    val chunkSize = math.max(1, (rows.length + nThreads - 1) / nThreads)
    val chunks = rows.indices.by(chunkSize).map(s => (s, math.min(s + chunkSize, rows.length)))
    // shared pool: this runs once PER QUERY in the batchSize=1 replay —
    // a per-call pool spawned+tore down 32 threads inside every measured
    // latency sample
    graft.WorkPool.assertNotPoolThread("IvfSearch.scanTopKDriver")
    val exec = graft.WorkPool.pool
    locally {
      val partials = chunks.map { case (from, until) =>
        exec.submit(new java.util.concurrent.Callable[Array[Array[(Double, Long)]]] {
          def call(): Array[Array[(Double, Long)]] = {
            val ds = Array.fill(nQ)(Array.fill(k)(Double.MaxValue))
            val ids = Array.fill(nQ)(Array.fill(k)(Long.MaxValue))
            var ri = from
            while (ri < until) {
              val (pid, vid, v) = rows(ri)
              val qIdxs: Array[Int] =
                if (probing == null) null else probing.getOrElse(pid, Array.empty[Int])
              if (probing == null || qIdxs.nonEmpty) {
                var t = 0
                val bound = if (probing == null) nQ else qIdxs.length
                while (t < bound) {
                  val qi = if (probing == null) t else qIdxs(t)
                  val q = qs(qi)
                  var s = 0.0
                  var i = 0
                  val n = math.min(q.length, v.length)
                  while (i < n) { val d = q(i).toDouble - v(i); s += d * d; i += 1 }
                  val dk = ds(qi)
                  val ik = ids(qi)
                  if (s < dk(k - 1) || (s == dk(k - 1) && vid < ik(k - 1))) {
                    var j = k - 1
                    while (j > 0 && (s < dk(j - 1) || (s == dk(j - 1) && vid < ik(j - 1)))) {
                      dk(j) = dk(j - 1); ik(j) = ik(j - 1); j -= 1
                    }
                    dk(j) = s; ik(j) = vid
                  }
                  t += 1
                }
              }
              ri += 1
            }
            Array.tabulate(nQ)(qi => ds(qi).zip(ids(qi)).filter(_._2 != Long.MaxValue))
          }
        })
      }.map(_.get())
      queries.indices.flatMap { qi =>
        partials.iterator.flatMap(p => p(qi)).toArray
          .sortBy(identity).take(k).zipWithIndex.map { case ((d, vid), r) =>
            (queries(qi)._1, r + 1, vid, d)
          }
      }.toArray
    }
  }

  /** Collect a driver mirror of a vectors table — the rows [[scanTopKDriver]]
    * scans. InternalRow extraction, no per-element boxing. */
  def collectMirror(vectors: DataFrame): Array[(Long, Long, Array[Float])] = {
    val schema = vectors.schema
    val vecIdIdx = schema.fieldIndex("vec_id")
    val embIdx = schema.fieldIndex("embedding")
    val pidIdx = schema.fieldIndex("partition_id")
    vectors.queryExecution.toRdd
      .mapPartitions(it => it.map(r => (r.getLong(pidIdx), r.getLong(vecIdIdx), r.getArray(embIdx).toFloatArray())))
      .collect()
  }

  /** Brute-force exact top-k over the whole collection (reference
    * `exact_topk`, quake_min.py:212-215) — the ground-truth oracle. */
  def exactTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topkOverCandidates(vectors.crossJoin(broadcast(queries)), k)

  /** Distance + per-query top-k (`l2_batch` + `topk_indices`,
    * quake_min.py:161-163). Candidate rows carry query_id, qvec, vec_id,
    * embedding. Ties broken by vec_id for determinism.
    *
    * Default strategy is the bounded-heap [[graft.vector.TopK]] aggregator:
    * map-side partial aggregation ships at most k rows per query per map
    * partition, where the window form shuffles EVERY candidate row — the
    * difference between O(queries·k·mapPartitions) and O(total scanned)
    * shuffle volume at corpus scale. The window form is kept for parity
    * testing (identical output incl. tie-breaks). */
  private def topkOverCandidates(cands: DataFrame, k: Int): DataFrame =
    graft.vector.TopK.perQuery(
      cands.withColumn("dist2", l2Sq(col("qvec"), col("embedding"))),
      k)

  /** Window-function form of the per-query top-k (the O(total-candidates)
    * shuffle baseline; parity-tested against the aggregator). */
  private[graft] def topkViaWindow(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist2").asc_nulls_last, col("vec_id").asc)
    cands
      .withColumn("dist2", l2Sq(col("qvec"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "dist2")
  }

  /** recall@k of `results` against `exact` (both `(query_id, rank, vec_id, …)`),
    * reference quake_min.py:164-167: denominator `max(1, min(k, |exact|))`,
    * and EVERY query in `queries` gets a recall row — a query with no exact
    * rows or no probed candidates scores 0, it is not silently dropped.
    *
    * @param queries the full query batch `(query_id, …)` */
  def recallAtK(results: DataFrame, exact: DataFrame, k: Int, queries: DataFrame): DataFrame = {
    val inter = results
      .select("query_id", "vec_id")
      .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_inter"))
    val denom = exact
      .groupBy("query_id")
      .agg(least(count(lit(1)), lit(k)).as("nd"))
    queries
      .select("query_id").distinct()
      .join(denom, Seq("query_id"), "left")
      .join(inter, Seq("query_id"), "left")
      .select(
        col("query_id"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          greatest(lit(1L), coalesce(col("nd"), lit(0L)))).as("recall"))
  }
}
