package graft.bench

import graft.index._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload replay harness — the reference's evaluation protocol
  * (run_demo.py:31-97 ∥ runner.mjs:57-125) re-expressed over micro-batches:
  *
  *  - O16 Zipf query sampler (α = 1.1, runner.mjs:37-48): queries are drawn
  *    near the centroids of rank-skewed partitions — the skew is what makes
  *    APS and split/merge maintenance do anything;
  *  - O17 churn loop (run_demo.py:57-84): batches of 20 queries, then
  *    10 inserts (noise vectors, fresh ids) + 10 deletes (random original
  *    ids — possibly already gone, no-op per quake_min.py:113), and a
  *    `maintain()` every 50 queries;
  *  - O18 metrics (runner.mjs:117-125): per-query latency mean/p50/p95,
  *    mean nprobe, mean vectors scanned, mean recall@k vs the exact oracle
  *    over a snapshot of the ORIGINAL dataset (run_demo.py:64 scores
  *    against the build-time X/ids, not the live post-churn collection).
  *
  * Epoch lineage: every mutation wraps `model.vectors` in unions/anti-joins;
  * replaying hundreds of epochs would grow an unbounded Catalyst plan that
  * the driver re-analyzes each epoch (a planner killer at scale). The
  * harness `localCheckpoint`s the vectors table every `checkpointEvery`
  * batches, truncating lineage to a materialized snapshot — the same
  * discipline a production index would get from periodic compaction.
  */
object Replay {

  final case class Summary(
      nQueries: Int,
      buildSec: Double,
      meanLatencyMs: Double,
      p50LatencyMs: Double,
      p95LatencyMs: Double,
      meanNprobe: Double,
      meanScanned: Double,
      meanRecall: Double,
      finalPartitions: Int,
      huskPartitions: Int,
      totalSec: Double,
      batchSize: Int,
      churnEvents: Int,
      maintainEvents: Int) {
    /** NOTE on percentile keys: at `batchSize == 1` every latency sample IS
      * one query, so the percentiles are true per-query p50/p95 (directly
      * comparable to BASELINE.md's 12.11/24.43 ms). With larger batches the
      * engine has no per-query samples — the percentiles are over PER-BATCH
      * MEAN latencies (batch wall / batch size) and are labeled as such;
      * `mean_latency_ms` (total search wall / total queries) is always
      * directly comparable to the reference's per-query mean. */
    def toJson: String = {
      val (p50Key, p95Key) =
        if (batchSize == 1) ("p50_ms", "p95_ms") else ("p50_batch_mean_ms", "p95_batch_mean_ms")
      s"""{"n_queries":$nQueries,"build_sec":$buildSec,"mean_latency_ms":$meanLatencyMs,""" +
        s""""$p50Key":$p50LatencyMs,"$p95Key":$p95LatencyMs,"mean_nprobe":$meanNprobe,""" +
        s""""mean_scanned":$meanScanned,"mean_recall":$meanRecall,"final_partitions":$finalPartitions,""" +
        s""""husk_partitions":$huskPartitions,"total_sec":$totalSec,"batch_size":$batchSize,""" +
        s""""churn_events":$churnEvents,"maintain_events":$maintainEvents}"""
    }

    /** [[toJson]] minus the latency fields — for A/B rows whose point is
      * STRUCTURAL (husk counts, nprobe, scanned, wall-clock): at this
      * replay's ~0.2 ms/query, tens of microseconds of scheduler noise
      * exceed the real latency delta between arms even under min-of-N,
      * and a noise-sign flip in a published A/B row reads as a
      * contradiction (round 5's husk row "lost" on latency while winning
      * every structural metric). */
    def toStructuralJson: String =
      s"""{"n_queries":$nQueries,"build_sec":$buildSec,"mean_nprobe":$meanNprobe,""" +
        s""""mean_scanned":$meanScanned,"mean_recall":$meanRecall,"final_partitions":$finalPartitions,""" +
        s""""husk_partitions":$huskPartitions,"total_sec":$totalSec,"batch_size":$batchSize,""" +
        s""""churn_events":$churnEvents,"maintain_events":$maintainEvents}"""
  }

  /** Deterministic Zipf(α) rank sampler over [0, n): inverse CDF on a
    * seeded uniform (reference samples ranks ∝ 1/r^α, runner.mjs:37-48). */
  private[graft] final class Zipf(n: Int, alpha: Double, seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val weights = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, alpha))
    private val cum = weights.scanLeft(0.0)(_ + _).tail
    private val total = cum.last
    def next(): Int = {
      val u = rng.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(if (i < 0) -i - 1 else i, n - 1)
    }
  }

  /** Per-metric min across repeat passes of the SAME replay config — the
    * suite's min-of-2 discipline applied to the replay rows: a co-tenant
    * CPU spike during one pass cannot fabricate a latency regression in
    * the official record. Timing fields take the min; the protocol fields
    * (counts, recall, nprobe — deterministic for a fixed config and seed)
    * are identical across passes and come from the first. */
  def minOver(ss: Seq[Summary]): Summary =
    ss.reduce((a, b) =>
      a.copy(
        buildSec = math.min(a.buildSec, b.buildSec),
        meanLatencyMs = math.min(a.meanLatencyMs, b.meanLatencyMs),
        p50LatencyMs = math.min(a.p50LatencyMs, b.p50LatencyMs),
        p95LatencyMs = math.min(a.p95LatencyMs, b.p95LatencyMs),
        totalSec = math.min(a.totalSec, b.totalSec)))

  def run(
      spark: SparkSession,
      sfDir: String,
      nQueries: Int = 500,
      batchSize: Int = 20,
      k: Int = 10,
      targetRecall: Double = 0.9,
      maintainEvery: Int = 50,
      checkpointEvery: Int = 1,
      compactHusks: Boolean = false): Summary = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding").cache()
    runOn(spark, emb, nQueries, batchSize, k, targetRecall, maintainEvery, checkpointEvery, compactHusks)
  }

  /** The reference's exact published workload at its exact scale
    * (run_demo.py:32-42): `n` Gaussian-mixture vectors (O15 semantics —
    * `nClusters` centers ~ N(0,4), points = center + N(0,1), seeded),
    * 500 Zipf queries, churn, maintenance. This is the apples-to-apples
    * row against BASELINE.md (the sf fixtures are 20× smaller). */
  def runSynthetic(
      spark: SparkSession,
      n: Int = 40000,
      d: Int = 64,
      nClusters: Int = 60,
      nQueries: Int = 500,
      batchSize: Int = 20,
      checkpointEvery: Int = 1,
      compactHusks: Boolean = false): Summary = {
    import spark.implicits._
    val rng = new scala.util.Random(7L) // reference seed (run_demo.py:39)
    val centers = Array.fill(nClusters, d)((rng.nextGaussian() * 4.0).toFloat)
    val rows = (0 until n).map { i =>
      val c = centers(rng.nextInt(nClusters))
      (i.toLong, c.map(x => x + rng.nextGaussian().toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").repartition(spark.sparkContext.defaultParallelism).cache()
    runOn(spark, emb, nQueries, batchSize, k = 10, targetRecall = 0.9, maintainEvery = 50, checkpointEvery, compactHusks)
  }

  private def runOn(
      spark: SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      nQueries: Int,
      batchSize: Int,
      k: Int,
      targetRecall: Double,
      maintainEvery: Int,
      checkpointEvery: Int,
      compactHusks: Boolean = false): Summary = {
    import spark.implicits._
    val t0 = System.nanoTime()
    // SPARK_GRAFT_REPLAY_PROFILE=1: cumulative per-phase wall time printed
    // every 25 batches — the diagnostic for "where does replay wall-time
    // go" (the timed search region is a small slice of it; churn epochs
    // dominate).
    val profEnabled = sys.env.get("SPARK_GRAFT_REPLAY_PROFILE").contains("1")
    val prof = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T =
      if (!profEnabled) body
      else {
        val tp = System.nanoTime()
        val r = body
        prof(name) = prof.getOrElse(name, 0.0) + (System.nanoTime() - tp) / 1e9
        r
      }
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val nRows = emb.count()

    // untimed JIT warmup (the NumPy reference pays no compilation inside
    // its timed region either — BLAS is pre-compiled), capped at 40k rows:
    // enough volume to get the build loops C2-compiled at realistic scale
    // without doubling the untimed work when the corpus is huge
    val warmN = math.min(nRows, 40000L)
    // no limit node when the corpus is already within the cap — GlobalLimit
    // shuffles everything to one partition just to count it off
    val warmInput = if (nRows <= warmN) emb else emb.limit(warmN.toInt)
    // (unpersist frees a distributed build's cache; a local build's stored
    // table is freed once ContextCleaner collects it)
    IvfBuild.build(warmInput, dim, nRowsHint = Some(warmN)).vectors.unpersist()

    val tb = System.nanoTime()
    var model = IvfBuild.build(emb, dim, nRowsHint = Some(nRows))
    val buildSec = (System.nanoTime() - tb) / 1e9

    val params = IvfSearch.Params(k = k, targetRecall = targetRecall, maxProbe = 64)

    // Recall protocol matches the reference: the exact oracle is computed
    // over a SNAPSHOT of the ORIGINAL dataset (run_demo.py:64 passes the
    // build-time X/ids to exact_topk), not the live post-churn collection —
    // deleted originals stay in the denominator, inserted noise never
    // enters it. `emb` is the caller-cached original corpus.
    val staticVectors = emb.select(col("vec_id"), col("embedding"), lit(0L).as("partition_id"))

    // Driver-mirror fast path (IvfSearch.scanTopKDriver): when the
    // collection fits the local-fit budget, the timed scans run in-process
    // over a collected mirror — a Spark job launch costs ~10² ms, which at
    // single-query batch sizes would dwarf the ~10⁰ ms of arithmetic; the
    // reference is likewise an in-process scan (quake_min.py:147-168).
    // Above the budget, scans stay on the distributed scanTopKLocal path.
    val useMirror = nRows * math.max(1, dim) <= graft.vector.KMeans.localFitThreshold
    val staticMirror: Array[(Long, Long, Array[Float])] =
      if (useMirror) IvfSearch.collectMirror(staticVectors) else null
    var liveMirror: Array[(Long, Long, Array[Float])] =
      if (useMirror) IvfSearch.collectMirror(model.vectors) else null

    // Delete-id pool (reference deletes uniform-random ORIGINAL ids,
    // run_demo.py:76). Collecting every id was the one O(n) driver collect
    // left in the harness; bounded instead: at mirror scale the ids are
    // already on the driver (same row order as the old full collect, so
    // 40k summaries are unchanged), beyond it a deterministic hash-ordered
    // sample caps driver memory — sampling WITH replacement from a uniform
    // 10⁵-id subsample is statistically indistinguishable from uniform
    // over all ids for the ~10² deletes a replay issues.
    val deleteIdPool: Array[Long] =
      if (useMirror) staticMirror.map(_._2)
      else
        emb.select("vec_id")
          .orderBy(xxhash64(col("vec_id")))
          .limit(100000)
          .as[Long].collect()
    // pid → member vectors, for reference-faithful query sampling
    // (run_demo.py:58-63 draws a random MEMBER of the sampled partition);
    // rebuilt on every mirror refresh
    var mirrorByPid: Map[Long, Array[Array[Float]]] =
      if (useMirror) liveMirror.groupBy(_._1).view.mapValues(_.map(_._3)).toMap else null

    // Untimed warmup: one tiny search + oracle pass so whole-stage codegen
    // and JIT compilation don't land in the first measured batch (the
    // NumPy reference has no JIT cost to amortize).
    locally {
      val wq: IndexedSeq[(Long, Array[Float])] = model.partitions.take(2).zipWithIndex
        .map { case (p, i) => (-(i + 1).toLong, p.centroid) }.toIndexedSeq
      val probes = IvfSearch.chooseProbesLocal(model, wq, params)
      val probing = probes.groupBy(_._2).view
        .mapValues(_.map(p => wq.indexWhere(_._1 == p._1)).toArray).toMap
      IvfSearch.scanTopKLocal(model.vectors, wq, probing, k)
      IvfSearch.scanTopKLocal(model.vectors, wq, null, k)
      if (useMirror) {
        IvfSearch.scanTopKDriver(liveMirror, wq, probing, k)
        IvfSearch.scanTopKDriver(staticMirror, wq, null, k)
      }
    }

    val rng = new scala.util.Random(7L) // reference seed (run_demo.py:39)
    var zipf = new Zipf(model.partitions.length, 1.1, seed = 7L)
    var nextId = 10000000L
    val superseded = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val batchLatMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sumNprobe, sumScanned, sumRecall = 0.0
    var nBatches = 0
    var churnEvents, maintainEvents = 0

    // Insert noise matches run_demo.py:72: randn*0.5 + randn per element
    // (sigma ≈ 1.118) — NOT vectors near existing centroids.
    def noiseVec(): Seq[Float] =
      Seq.fill(dim)((rng.nextGaussian() * 0.5 + rng.nextGaussian()).toFloat)

    var q = 0
    while (q < nQueries) {
      val bs = math.min(batchSize, nQueries - q)
      // Zipf-skewed queries (O16): a random MEMBER vector of the sampled
      // partition + N(0, 0.1) noise, exactly run_demo.py:58-63 (empty
      // partition → random row of the ORIGINAL dataset). Without a mirror
      // (corpus beyond driver memory) the partition centroid stands in —
      // same skew, no per-query collect.
      val qRows: Seq[(Long, Array[Float])] = (0 until bs).map { i =>
        val p = model.partitions(zipf.next() % model.partitions.length)
        val base =
          if (mirrorByPid == null) p.centroid
          else {
            val members = mirrorByPid.getOrElse(p.pid, Array.empty[Array[Float]])
            if (members.isEmpty) staticMirror(rng.nextInt(staticMirror.length))._3
            else members(rng.nextInt(members.length))
          }
        ((q + i).toLong, base.map(x => x + (rng.nextGaussian() * 0.1).toFloat))
      }
      // timed search (O12): probe choice is driver-side metadata math
      // (chooseProbesLocal ≡ chooseProbes, parity-tested); the gather +
      // top-k is ONE batched scan over the probed partitions — the driver
      // mirror when the collection fits (scanTopKDriver ≡ scanTopKLocal,
      // parity-tested), the distributed batched scan otherwise.
      val ts = System.nanoTime()
      val probesLocal = IvfSearch.chooseProbesLocal(model, qRows, params)
      val qIndex = qRows.indices.map(i => qRows(i)._1 -> i).toMap
      val probing: Map[Long, Array[Int]] = probesLocal
        .groupBy(_._2).view.mapValues(_.map(p => qIndex(p._1)).toArray).toMap
      val resultRows =
        if (liveMirror != null) IvfSearch.scanTopKDriver(liveMirror, qRows.toIndexedSeq, probing, k)
        else IvfSearch.scanTopKLocal(model.vectors, qRows.toIndexedSeq, probing, k)
      val latMs = (System.nanoTime() - ts) / 1e6
      batchLatMs += latMs / bs
      if (profEnabled) prof("search") = prof.getOrElse("search", 0.0) + latMs / 1e3

      // O18 metrics, driver-side (probe set + k·bs result rows are tiny)
      sumNprobe += probesLocal.size.toDouble / bs
      sumScanned += probesLocal.map(_._3).sum.toDouble / bs
      val exactRows = phase("oracle") {
        if (staticMirror != null) IvfSearch.scanTopKDriver(staticMirror, qRows.toIndexedSeq, null, k)
        else IvfSearch.scanTopKLocal(staticVectors, qRows.toIndexedSeq, null, k)
      }
      val exactByQ = exactRows.groupBy(_._1)
      val resByQ = resultRows.groupBy(_._1)
      val recalls = qRows.map { case (qid, _) =>
        val ex = exactByQ.getOrElse(qid, Array.empty).map(_._3).toSet
        val got = resByQ.getOrElse(qid, Array.empty).map(_._3).toSet
        (got & ex).size.toDouble / math.max(1, math.min(k, ex.size))
      }
      sumRecall += recalls.sum / math.max(1, recalls.size)
      // hit accounting (quake_min.py:155) from the local probe set
      val hitCounts = probesLocal.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      model = model.copy(
        partitions = model.partitions.map(p => p.copy(hits = p.hits + hitCounts.getOrElse(p.pid, 0L))),
        queryCounter = model.queryCounter + bs)
      nBatches += 1
      q += bs

      // churn: 10 inserts + 10 deletes on every crossing of a 20-query
      // boundary (run_demo.py:71-78 fires at t=20,40,…) — crossing-based so
      // batchSize=1 replays fire the same 25 churn events per 500 queries
      // as the reference, and batchSize=20 keeps its one-per-batch cadence
      val nChurn = 10 * (q / 20 - (q - bs) / 20)
      var mutated = false
      if (nChurn > 0) {
        mutated = true
        churnEvents += nChurn / 10
        superseded += model.vectors
        val adds = (0 until nChurn).map(_ => { val id = nextId; nextId += 1; (id, noiseVec()) })
          .toDF("vec_id", "embedding")
        model = phase("insert")(IvfMutate.insert(model, adds))
        superseded += model.vectors
        val dels = (0 until nChurn).map(_ => deleteIdPool(rng.nextInt(deleteIdPool.length))).toDF("vec_id")
        model = phase("delete")(IvfMutate.delete(model, dels))
      }
      // maintenance on every crossing of a `maintainEvery` boundary
      // (run_demo.py:80-81 fires at t=50,100,…; with batch 20 the crossing
      // test fires at q=60,100,160,… — 10 times per 500 queries like the
      // reference, where a plain q%50==0 would fire only at multiples of 100)
      if (q / maintainEvery > (q - bs) / maintainEvery) {
        val before = model.partitions.length
        superseded += model.vectors
        model = phase("maintain")(IvfMaintain.maintain(model, compactHusks = compactHusks))
        mutated = true
        maintainEvents += 1
        if (model.partitions.length != before)
          zipf = new Zipf(model.partitions.length, 1.1, seed = 7L + q)
      }
      // lineage truncation; superseded tables are released only AFTER the
      // checkpoint materializes (they are inputs of the live plan until
      // then). The checkpoint copies only a table that is not already
      // stored, and may return the live table itself, which is never
      // released. The buffer's live purpose is dropping a cached table
      // (the distributed build's) once a stored copy replaces it; stored
      // tables are freed by ContextCleaner once unreferenced
      if (nBatches % checkpointEvery == 0) {
        superseded += model.vectors
        model = phase("checkpoint")(IvfMutate.checkpoint(model))
        superseded.foreach(v => if (v ne model.vectors) v.unpersist())
        superseded.clear()
      }
      // mirror refresh (untimed, like the reference's oracle bookkeeping):
      // any mutation epoch re-collects the driver mirror from the new
      // vectors table — one ~n·d float copy per churn event
      if (mutated && useMirror) {
        phase("mirror") {
          liveMirror = IvfSearch.collectMirror(model.vectors)
          mirrorByPid = liveMirror.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
        }
      }
      if (profEnabled && nBatches % 25 == 0)
        System.err.println(s"[replay-profile] batches=$nBatches " +
          s"rddParts=${model.vectors.rdd.getNumPartitions} " +
          prof.map { case (k2, v) => f"$k2=$v%.1f" }.mkString(" "))
    }

    val lats = batchLatMs.sorted
    def pct(p: Double) = if (lats.isEmpty) 0.0 else lats(math.min(lats.length - 1, (p * lats.length).toInt))
    Summary(
      nQueries = nQueries,
      buildSec = round3(buildSec),
      meanLatencyMs = round3(lats.sum / math.max(1, lats.length)),
      p50LatencyMs = round3(pct(0.5)),
      p95LatencyMs = round3(pct(0.95)),
      meanNprobe = round3(sumNprobe / math.max(1, nBatches)),
      meanScanned = round3(sumScanned / math.max(1, nBatches)),
      meanRecall = round3(sumRecall / math.max(1, nBatches)),
      finalPartitions = model.partitions.length,
      huskPartitions = model.partitions.count(_.size == 0L),
      totalSec = round3((System.nanoTime() - t0) / 1e9),
      batchSize = batchSize,
      churnEvents = churnEvents,
      maintainEvents = maintainEvents)
  }

  /** Row-at-a-time online mutation latency — closing the one open question
    * from the reference-fidelity ledger (SURVEY §7.4): the reference's
    * `insert`/`delete` are per-row in-memory calls (quake_min.py:92-125);
    * this engine serves them at micro-batch granularity through the same
    * operators, and this probe MEASURES what a batch size of exactly one
    * costs end-to-end on the reference's own 40k×64 corpus: per event, one
    * single-row [[IvfMutate.insert]] (timed), one single-query distributed
    * search over the post-insert index (timed — the honest no-driver-mirror
    * path, so the number holds when the corpus outgrows driver memory), and
    * every fifth event one single-row [[IvfMutate.delete]] (timed).
    * Lineage checkpoints every 20 events, untimed, like the b1 replay. */
  final case class RowLevel(
      events: Int,
      insertMeanMs: Double, insertP50Ms: Double, insertP95Ms: Double,
      searchMeanMs: Double, searchP50Ms: Double, searchP95Ms: Double,
      deleteMeanMs: Double) {
    def toJson: String =
      s"""{"events":$events,"insert_mean_ms":$insertMeanMs,"insert_p50_ms":$insertP50Ms,""" +
        s""""insert_p95_ms":$insertP95Ms,"search_mean_ms":$searchMeanMs,"search_p50_ms":$searchP50Ms,""" +
        s""""search_p95_ms":$searchP95Ms,"delete_mean_ms":$deleteMeanMs}"""
  }

  def rowLevelProbe(spark: SparkSession, n: Int = 40000, d: Int = 64, events: Int = 50): RowLevel = {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    val centers = Array.fill(60, d)((rng.nextGaussian() * 4.0).toFloat)
    val rows = (0 until n).map { i =>
      val c = centers(rng.nextInt(60))
      (i.toLong, c.map(x => x + rng.nextGaussian().toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").repartition(spark.sparkContext.defaultParallelism).cache()
    var model = IvfBuild.build(emb, d, nRowsHint = Some(n.toLong))
    val params = IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64)
    def oneSearch(qid: Long): Unit = {
      val p = model.partitions(rng.nextInt(model.partitions.length))
      val q = IndexedSeq((qid, p.centroid.map(x => x + (rng.nextGaussian() * 0.1).toFloat)))
      val probes = IvfSearch.chooseProbesLocal(model, q, params)
      val probing = probes.groupBy(_._2).view.mapValues(_ => Array(0)).toMap
      IvfSearch.scanTopKLocal(model.vectors, q, probing, 10)
    }
    // untimed warmup: one insert + search + delete compiles every code path
    model = IvfMutate.insert(model, Seq((20000000L, Seq.fill(d)(0.1f))).toDF("vec_id", "embedding"))
    oneSearch(-1L)
    model = IvfMutate.delete(model, Seq(20000000L).toDF("vec_id"))
    model = IvfMutate.checkpoint(model)

    val insMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val schMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val delMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var e = 0
    while (e < events) {
      val vec = Seq.fill(d)((rng.nextGaussian() * 0.5 + rng.nextGaussian()).toFloat)
      val t0 = System.nanoTime()
      model = IvfMutate.insert(model, Seq((30000000L + e, vec)).toDF("vec_id", "embedding"))
      insMs += (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      oneSearch(e.toLong)
      schMs += (System.nanoTime() - t1) / 1e6
      if (e % 5 == 4) {
        val t2 = System.nanoTime()
        model = IvfMutate.delete(model, Seq(rng.nextInt(n).toLong).toDF("vec_id"))
        delMs += (System.nanoTime() - t2) / 1e6
      }
      if (e % 20 == 19) model = IvfMutate.checkpoint(model)
      e += 1
    }
    emb.unpersist()
    def stats(xs: Seq[Double]): (Double, Double, Double) = {
      val s = xs.sorted
      def pct(p: Double) = if (s.isEmpty) 0.0 else s(math.min(s.length - 1, (p * s.length).toInt))
      (round3(s.sum / math.max(1, s.length)), round3(pct(0.5)), round3(pct(0.95)))
    }
    val (im, i50, i95) = stats(insMs.toSeq)
    val (sm, s50, s95) = stats(schMs.toSeq)
    val (dm, _, _) = stats(delMs.toSeq)
    RowLevel(events, im, i50, i95, sm, s50, s95, dm)
  }

  private def round3(d: Double): Double = math.rint(d * 1000) / 1000
}
