package perfbench

import graft.index.{IvfBuild, IvfMaintain, IvfModel, IvfMutate, IvfSearch}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Shared IVF pieces: search-result checks against the benchmark's own
  * distances, and recall against its own brute-force top-k. */
object IvfCheck {
  val K = 10
  val Params = IvfSearch.Params(k = K, targetRecall = 0.9, maxProbe = 64)

  /** Result rows of one query, `(rank, vec_id, dist2)`, must be k rows
    * ranked 1..k in (dist2, vec_id) order, with distinct ids whose
    * vectors `vecOf` knows and whose re-scored distance matches. */
  def wellFormed(q: Array[Float], rows: Seq[(Int, Long, Double)], vecOf: Long => Option[Array[Float]]): Option[String] = {
    val s = rows.sortBy(_._1)
    if (s.length != K) return Some(s"${s.length} results, want $K")
    if (s.map(_._1) != (1 to K)) return Some(s"ranks ${s.map(_._1)}")
    if (s.map(_._2).distinct.length != K) return Some("duplicate ids")
    val ordered = s.sliding(2).forall { case Seq(a, b) => a._3 < b._3 || (a._3 == b._3 && a._2 < b._2) }
    if (!ordered) return Some("not in (dist2, id) order")
    s.collectFirst {
      case (_, id, d) if vecOf(id).isEmpty => s"id $id was not live"
      case (_, id, d) if math.abs(Oracle.dist2(q, vecOf(id).get) - d) > 1e-4 * math.max(1.0, d) =>
        s"id $id dist2 $d, re-scored ${Oracle.dist2(q, vecOf(id).get)}"
    }
  }
}

/** The reference's evaluation protocol, one query per request: a 40k×64
  * Gaussian mixture (60 centres ~ N(0, 4²), points + N(0, 1)), queries
  * Zipf(1.1) over partitions (a random member + N(0, 0.1²)), 10 inserts
  * and 10 deletes every 20 queries and `maintain` every 50, engine
  * defaults. The corpus fits the driver budget, so search runs on the
  * in-process mirror. The build is timed until searchable (index and
  * mirror); a write is timed until the next search sees it: the
  * mutation, the checkpoint that materializes it and the mirror
  * refresh. */
object IvfOnline extends Workload {
  val name = "ivf_online"
  def inputs(size: Size): String = { val (n, d, c) = sizes(size); s"$n x $d mixture of $c centres" }
  // a round is 10 queries; 100 queries hold five churn batches and two
  // maintains
  def rounds = 10

  final class State(val d: Int, val emb: DataFrame, val static: Array[(Long, Array[Float])], val seed: Long) {
    var model: IvfModel = null
    var mirror: Array[(Long, Long, Array[Float])] = null
    var byPid: Map[Long, Array[Array[Float]]] = Map.empty
    def refresh(m: IvfModel, mir: Array[(Long, Long, Array[Float])]): Unit = {
      if (model != null && (m.vectors ne model.vectors)) model.vectors.unpersist()
      model = m
      mirror = mir
      byPid = mir.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    }
  }

  def sizes(size: Size): (Int, Int, Int) = size match {
    case Size.Full => (40000, 64, 60)
    case Size.Tiny => (2000, 16, 10)
  }

  /** The corpus is one fixed dataset, as in the reference (seed 7 there
    * too); `--seed` draws the queries, inserts and deletes. Over corpus
    * seeds, about one in four builds has no partition at the split size
    * (3,000), so neither timed maintain splits, and such a run's
    * throughput is 25–35% above the others': a ten-seed spread then
    * depended on how many of those seeds it drew (0.11 with two, past
    * 0.25 with three). */
  val CorpusSeed = 7L

  def setup(r: Run, seed: Long): State = {
    val (n, d, nc) = sizes(r.size)
    val cs = Gen.centers(CorpusSeed, nc, d)
    val static = Gen.mixture(CorpusSeed, n, cs).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    val emb = Gen.mixtureFrame(r.spark, CorpusSeed, n, cs).cache()
    emb.count()
    new State(d, emb, static, seed)
  }

  override def dispose(r: Run, st: State): Unit = {
    if (st.model != null) st.model.vectors.unpersist()
    st.emb.unpersist()
  }

  /** Every timed call once, on a throwaway index over a tenth of the corpus. */
  override def warmup(r: Run, st: State): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rng = Gen.rng(st.seed, -2L)
    val part = st.static.take(st.static.length / 10)
    val m0 = IvfBuild.build(part.toSeq.toDF("vec_id", "embedding"), st.d, nRowsHint = Some(part.length.toLong))
    val q = IndexedSeq((-1L, st.static(0)._2))
    val probes = IvfSearch.chooseProbesLocal(m0, q, IvfCheck.Params)
    IvfSearch.scanTopKDriver(IvfSearch.collectMirror(m0.vectors), q, probes.map(p => p._2 -> Array(0)).toMap, IvfCheck.K)
    val adds = (0 until 10).map(i => (-10L - i, Gen.noise(rng, st.d))).toDF("vec_id", "embedding")
    val m1 = IvfMutate.checkpoint(IvfMutate.insert(m0, adds))
    IvfSearch.collectMirror(m1.vectors)
    val m2 = IvfMutate.checkpoint(IvfMutate.delete(m1, (0L until 10L).toDF("vec_id")))
    val m3 = IvfMutate.checkpoint(IvfMaintain.maintain(m2))
    Seq(m0, m1, m2, m3).foreach(_.vectors.unpersist())
  }

  def run(r: Run, st: State, keepGoing: Int => Boolean): Unit = {
    val spark = r.spark
    import spark.implicits._
    r.op("build") {
      val m = r.call("IvfBuild.build")(IvfBuild.build(st.emb, st.d, nRowsHint = Some(st.static.length.toLong)))
      (m, r.call("IvfSearch.collectMirror")(IvfSearch.collectMirror(m.vectors)))
    }.foreach { case (m, mir) => st.refresh(m, mir) }
    if (st.model == null) return
    // untimed: 100 searches on the built index, so the scan loops are
    // compiled for this corpus before the first timed query
    val warm = Gen.rng(st.seed, -4L)
    (0 until 100).foreach { _ =>
      val q = IndexedSeq((-1L, Gen.jitter(warm, st.static(warm.nextInt(st.static.length))._2, 0.1)))
      val probes = IvfSearch.chooseProbesLocal(st.model, q, IvfCheck.Params)
      IvfSearch.scanTopKDriver(st.mirror, q, probes.map(p => p._2 -> Array(0)).toMap, IvfCheck.K)
    }
    val rng = Gen.rng(st.seed, -3L)
    var zipf = new Gen.Zipf(st.model.partitions.length, 1.1, rng)
    val vecOf = mutable.HashMap.empty[Long, Array[Float]] ++= st.static
    val liveFrom = mutable.HashMap.empty[Long, Int]
    val liveUntil = mutable.HashMap.empty[Long, Int]
    val asked = mutable.ArrayBuffer.empty[(Int, Array[Float], Seq[(Int, Long, Double)])]
    var nextId = 100000000L
    var q = 0
    var round = 0
    var husks = 0

    def write(name: String)(mutate: IvfModel => IvfModel): Unit =
      r.op(name) {
        val changed = mutate(st.model)
        val m = r.call("IvfMutate.checkpoint")(IvfMutate.checkpoint(changed))
        (m, r.call("IvfSearch.collectMirror")(IvfSearch.collectMirror(m.vectors)))
      }.foreach { case (m, mir) => st.refresh(m, mir) }

    while (keepGoing(round)) {
      (0 until 10).foreach { _ =>
        val p = st.model.partitions(zipf.next() % st.model.partitions.length)
        val members = st.byPid.getOrElse(p.pid, Array.empty[Array[Float]])
        val base = if (members.isEmpty) st.static(rng.nextInt(st.static.length))._2 else members(rng.nextInt(members.length))
        val qv = Gen.jitter(rng, base, 0.1)
        val batch = IndexedSeq((q.toLong, qv))
        r.op("search") {
          val probes = r.call("IvfSearch.chooseProbesLocal")(IvfSearch.chooseProbesLocal(st.model, batch, IvfCheck.Params))
          val probing = probes.map(p => p._2 -> Array(0)).toMap
          (probes, r.call("IvfSearch.scanTopKDriver")(IvfSearch.scanTopKDriver(st.mirror, batch, probing, IvfCheck.K)))
        }.foreach { case (probes, res) =>
          asked += ((q, qv, res.map(x => (x._2, x._3, x._4)).toSeq))
          r.counters("nprobe") += probes.size
          r.counters("scanned") += probes.map(_._3).sum
          r.counters("live") += st.model.totalVectors
          r.counters("queries") += 1
          // hit accounting drives maintain's split policy (quake_min.py:155)
          val hit = probes.map(_._2).toSet
          st.model = st.model.copy(
            partitions = st.model.partitions.map(p => if (hit(p.pid)) p.copy(hits = p.hits + 1) else p),
            queryCounter = st.model.queryCounter + 1)
        }
        q += 1
      }
      if (q % 20 == 0) {
        val adds = (0 until 10).map { _ => val id = nextId; nextId += 1; (id, Gen.noise(rng, st.d)) }
        adds.foreach { case (id, v) => vecOf(id) = v; liveFrom(id) = q }
        val addDf = adds.toDF("vec_id", "embedding")
        write("insert")(m => r.call("IvfMutate.insert")(IvfMutate.insert(m, addDf)))
        val dels = Seq.fill(10)(st.static(rng.nextInt(st.static.length))._1)
        dels.foreach(id => if (!liveUntil.contains(id)) liveUntil(id) = q)
        val delDf = dels.toDF("vec_id")
        write("delete")(m => r.call("IvfMutate.delete")(IvfMutate.delete(m, delDf)))
      }
      if (q % 50 == 0) {
        husks = math.max(husks, st.model.partitions.count(_.size == 0L))
        val before = st.model.partitions.length
        write("maintain")(m => r.call("IvfMaintain.maintain")(IvfMaintain.maintain(m)))
        if (st.model.partitions.length != before) zipf = new Gen.Zipf(st.model.partitions.length, 1.1, rng)
      }
      round += 1
    }

    // recall against the ORIGINAL snapshot, as the reference scores it
    val exact = Oracle.topKMany(st.static.map(_._1), st.static.map(_._2), asked.map(_._2).toIndexedSeq, IvfCheck.K)
    val recalls = asked.indices.map(i => Oracle.recall(asked(i)._3.sortBy(_._1).map(_._2), exact(i).toSeq, IvfCheck.K))
    val bad = asked.iterator.flatMap { case (qi, qv, rows) =>
      IvfCheck.wellFormed(qv, rows, id =>
        if (liveFrom.getOrElse(id, 0) <= qi && qi < liveUntil.getOrElse(id, Int.MaxValue)) vecOf.get(id) else None)
        .map(e => s"query $qi: $e")
    }.take(1).toSeq
    r.check("ivf_online.results_match_oracle_distances", bad.isEmpty, bad.mkString)
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    r.check("ivf_online.recall_at_10_floor", recall >= 0.9, s"recall $recall < 0.9")

    // each operation kind at its median latency, so one stalled write
    // does not move a run's figure; queries_per_s takes the plain sum
    val searches = asked.length
    val typicalSec = Seq("search", "insert", "delete", "maintain").map(r.samples).filter(_.nonEmpty)
      .map(xs => xs.length * Stats.median(xs)).sum / 1e3
    r.put("throughput_per_s", searches / typicalSec, "1/s", searches, "searches / (count x median latency, per operation kind)")
    r.put("recall", recall, "ratio", recalls.length)
    r.putP50("search_p50_ms", "search")
    r.putTail("search_tail_ms", "search")
    r.putP50("insert_p50_ms", "insert")
    r.putP50("delete_p50_ms", "delete")
    r.putP50("maintain_p50_ms", "maintain")
    r.samples("build").headOption.foreach(ms => r.put("build_s", ms / 1e3, "s", 1))
    r.put("queries_per_s", searches / r.loopBusySec, "1/s", searches)
    r.put("recall_at_10", recall, "ratio", recalls.length)
    r.counters("husks") = husks
  }
}

/** A corpus past the driver budget (264k×64 floats > 16 Mi), written to
  * Parquet in set-up. The bulk job: the timed build runs distributed
  * k-means over the Parquet, then 20-query batches go through the
  * DataFrame API `IvfSearch.search`. No churn. Throughput counts the
  * build with the batches, so both the distributed build and the
  * distributed search are in it. */
object IvfBulk extends Workload {
  val name = "ivf_bulk"
  def inputs(size: Size): String = { val (n, d, c) = sizes(size); s"$n x $d mixture of $c centres, Parquet" }
  // a round is one 20-query batch; the build outweighs the batches
  def rounds = 2

  final class State(
      val path: String,
      val d: Int,
      val ids: Array[Long],
      val vecs: Array[Array[Float]],
      val members: Array[Array[Int]],
      val seed: Long)

  def sizes(size: Size): (Int, Int, Int) = size match {
    case Size.Full => (264000, 64, 60)
    case Size.Tiny => (3000, 16, 10)
  }

  def setup(r: Run, seed: Long): State = {
    val (n, d, nc) = sizes(r.size)
    val cs = Gen.centers(seed, nc, d)
    val pts = Gen.mixture(seed, n, cs)
    val path = s"${r.dataDir}/ivf_bulk_corpus"
    Gen.mixtureFrame(r.spark, seed, n, cs).write.mode("overwrite").parquet(path)
    val members = Array.fill(nc)(Array.newBuilder[Int])
    pts.indices.foreach(i => members(pts(i)._1) += i)
    new State(path, d, Array.tabulate(n)(_.toLong), pts.map(_._2), members.map(_.result()), seed)
  }

  override def dispose(r: Run, st: State): Unit = Main.deleteTree(new java.io.File(st.path))

  def run(r: Run, st: State, keepGoing: Int => Boolean): Unit = {
    val spark = r.spark
    import spark.implicits._
    val budget = graft.vector.KMeans.LocalFitThresholdDefault
    if (r.size == Size.Full)
      r.check("ivf_bulk.corpus_exceeds_driver_budget", st.ids.length.toLong * st.d > budget,
        s"${st.ids.length}×${st.d} floats fit the $budget-float budget")
    val rng = Gen.rng(st.seed, -3L)
    val zipf = new Gen.Zipf(st.members.length, 1.1, rng)
    var nextQ = 0L
    def batch(): IndexedSeq[(Long, Array[Float])] = (0 until 20).map { _ =>
      val ms = st.members(zipf.next())
      nextQ += 1
      (nextQ, Gen.jitter(rng, st.vecs(ms(rng.nextInt(ms.length))), 0.1))
    }
    def search(model: IvfModel, qs: IndexedSeq[(Long, Array[Float])]): Array[(Long, Int, Long, Double)] =
      IvfSearch.search(model, qs.toDF("query_id", "qvec"), IvfCheck.Params)
        .select("query_id", "rank", "vec_id", "dist2").as[(Long, Int, Long, Double)].collect()

    val built = r.op("build") {
      r.call("IvfBuild.build")(IvfBuild.build(spark.read.parquet(st.path), st.d))
    }
    val asked = mutable.ArrayBuffer.empty[(Array[Float], Seq[(Int, Long, Double)])]
    built.foreach { model =>
      search(model, batch()) // untimed: codegen for the search plan
      var round = 0
      while (keepGoing(round)) {
        val qs = batch()
        r.op("search")(r.call("IvfSearch.search")(search(model, qs))).foreach { res =>
          val byQ = res.groupBy(_._1)
          qs.foreach { case (qid, qv) =>
            asked += ((qv, byQ.getOrElse(qid, Array.empty).map(x => (x._2, x._3, x._4)).toSeq))
          }
        }
        round += 1
      }
      r.check("ivf_bulk.build_covers_corpus", model.totalVectors == st.ids.length,
        s"index holds ${model.totalVectors} of ${st.ids.length}")
      model.vectors.unpersist()
    }

    val exact = Oracle.topKMany(st.ids, st.vecs, asked.map(_._1).toIndexedSeq, IvfCheck.K)
    val recalls = asked.indices.map(i => Oracle.recall(asked(i)._2.sortBy(_._1).map(_._2), exact(i).toSeq, IvfCheck.K))
    val bad = asked.indices.iterator.flatMap { i =>
      IvfCheck.wellFormed(asked(i)._1, asked(i)._2, id =>
        if (id >= 0 && id < st.vecs.length) Some(st.vecs(id.toInt)) else None).map(e => s"query $i: $e")
    }.take(1).toSeq
    r.check("ivf_bulk.results_match_oracle_distances", bad.isEmpty, bad.mkString)
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    r.check("ivf_bulk.recall_at_10_floor", recall >= 0.9, s"recall $recall < 0.9")

    val queries = asked.length
    val busySec = (r.samples("build") ++ r.samples("search")).filter(_ < Double.MaxValue).sum / 1e3
    r.put("throughput_per_s", queries / busySec, "1/s", queries, "queries / (build + search batches)")
    r.put("recall", recall, "ratio", queries)
    r.samples("build").headOption.foreach(ms => r.put("build_s", ms / 1e3, "s", 1))
    r.putP50("search_p50_ms", "search")
    r.putTail("search_tail_ms", "search")
    r.put("queries_per_s", queries / r.loopBusySec, "1/s", queries, "queries / search batches")
    r.put("recall_at_10", recall, "ratio", queries)
  }
}
