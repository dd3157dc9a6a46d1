package graft.index

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF lifecycle tests over the sf0.001 embeddings fixture (50 × 64-d) plus
  * small synthetic frames — SURVEY.md §5 suites 1, 3, 4. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = "/root/testdata/sf0.001"
  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtures/embeddings.parquet").select("vec_id", "embedding").cache()
  private lazy val model: IvfModel = IvfBuild.build(emb, dim = 64)

  private def queriesOf(ids: Long*): DataFrame =
    emb.filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  test("build: every vector lands in exactly one partition; metadata sizes agree (O7)") {
    val total = model.vectors.count()
    assert(total == emb.count())
    assert(model.totalVectors == total)
    assert(model.partitions.zipWithIndex.forall { case (p, i) => p.pid == i.toLong })
    val actualSizes = model.vectors.groupBy("partition_id").count()
      .as[(Long, Long)].collect().toMap
    model.partitions.foreach(p => assert(actualSizes.getOrElse(p.pid, 0L) == p.size))
    // the local build's centroids are the row-order double-sum mean, bit for
    // bit: `vectors` holds the rows in the order the build summed them
    membersOf(model).foreach { case (pid, ms) =>
      val sum = new Array[Double](model.dim)
      ms.foreach { case (_, v) => v.indices.foreach(i => sum(i) += v(i)) }
      assert(model.partitions(pid.toInt).centroid.toSeq == sum.map(x => (x / ms.length).toFloat).toSeq, s"pid $pid")
    }
  }

  test("APS search achieves recall >= 0.9 at target 0.9 (reference bar, cell-3: 0.968)") {
    val qs = queriesOf(0L to 9L: _*)
    val params = IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64)
    val res = IvfSearch.search(model, qs, params)
    val exact = IvfSearch.exactTopK(emb, qs, 10)
    val recall = IvfSearch.recallAtK(res, exact, 10, qs)
      .agg(avg("recall")).head.getDouble(0)
    assert(recall >= 0.9, s"mean recall $recall")
  }

  test("chooseProbes returns the minimal probability prefix (O11, quake_min.py:139-145)") {
    val qs = queriesOf(0L, 1L)
    val target = 0.5
    val probes = IvfSearch.chooseProbes(model, qs, IvfSearch.Params(k = 10, targetRecall = target, maxProbe = 64))
      .select("query_id", "p").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(-_).toVector)
    probes.foreach { case (q, ps) =>
      val total = ps.sum
      // selected mass reaches the target...
      assert(total >= target || ps.nonEmpty, s"q$q sum $total")
      // ...and the prefix is minimal: dropping the last selected goes below
      assert(ps.init.sum < target, s"q$q not minimal")
    }
  }

  test("chooseProbesLocal matches the distributed chooseProbes exactly (parity)") {
    val params = IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64)
    val qs = queriesOf(0L to 4L: _*)
    val dist = IvfSearch.chooseProbes(model, qs, params)
      .select("query_id", "partition_id").as[(Long, Long)].collect().toSet
    val local = qs.select("query_id", "qvec").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }.toSeq
    val loc = IvfSearch.chooseProbesLocal(model, local, params).map(t => (t._1, t._2)).toSet
    assert(loc == dist, s"local-only=${loc -- dist} dist-only=${dist -- loc}")
  }

  test("batched-scan top-k matches the DataFrame paths (exact + probed parity)") {
    val params = IvfSearch.Params(k = 5, targetRecall = 0.9, maxProbe = 64)
    val local = queriesOf(0L to 4L: _*).select("query_id", "qvec").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }.toIndexedSeq
    // exact form
    val scanExact = IvfSearch.scanTopKLocal(model.vectors, local, null, 5).toSet
    val dfExact = IvfSearch.exactTopK(emb, queriesOf(0L to 4L: _*), 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(scanExact == dfExact)
    // probed form
    val probes = IvfSearch.chooseProbesLocal(model, local, params)
    val qIdx = local.indices.map(i => local(i)._1 -> i).toMap
    val probing = probes.groupBy(_._2).view.mapValues(_.map(p => qIdx(p._1)).toArray).toMap
    val scanProbed = IvfSearch.scanTopKLocal(model.vectors, local, probing, 5).toSet
    val dfProbed = IvfSearch.search(model, queriesOf(0L to 4L: _*), params.copy(k = 5))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(scanProbed == dfProbed)
    // driver-mirror form (the replay fast path): bit-identical rows
    val mirror = IvfSearch.collectMirror(model.vectors)
    assert(IvfSearch.scanTopKDriver(mirror.toIndexedSeq, local, null, 5).toSeq ==
      IvfSearch.scanTopKLocal(model.vectors, local, null, 5).toSeq)
    assert(IvfSearch.scanTopKDriver(mirror.toIndexedSeq, local, probing, 5).toSeq ==
      IvfSearch.scanTopKLocal(model.vectors, local, probing, 5).toSeq)
  }

  test("heap top-k aggregator matches the window form bit-for-bit (parity)") {
    val qs = queriesOf(0L to 9L: _*)
    val cands = emb.crossJoin(broadcast(qs))
    val viaWindow = IvfSearch.topkViaWindow(cands, 10)
      .select("query_id", "rank", "vec_id", "dist2")
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaHeap = IvfSearch.exactTopK(emb, qs, 10)
      .select("query_id", "rank", "vec_id", "dist2")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaHeap == viaWindow)
  }

  test("search self-query: rank 1 is the query vector itself at distance 0") {
    val res = IvfSearch.search(model, queriesOf(7L), IvfSearch.Params(k = 1, targetRecall = 0.9, maxProbe = 64))
      .collect()
    assert(res.length == 1)
    assert(res(0).getAs[Long]("vec_id") == 7L)
    assert(res(0).getAs[Double]("dist2") == 0.0)
  }

  test("insert then search@k=1 finds the inserted vector (churn property, run_demo.py:71-78)") {
    val novel = Seq.fill(64)(0.9f)
    val adds = Seq((9999L, novel)).toDF("vec_id", "embedding")
    val m2 = IvfMutate.insert(model, adds)
    assert(m2.totalVectors == model.totalVectors + 1)
    assert(m2.partitions.zipWithIndex.forall { case (p, i) => p.pid == i.toLong }, "pid density after insert")
    val q = Seq((0L, novel)).toDF("query_id", "qvec")
    val res = IvfSearch.search(m2, q, IvfSearch.Params(k = 1, targetRecall = 0.95, maxProbe = 64)).collect()
    assert(res.length == 1 && res(0).getAs[Long]("vec_id") == 9999L)
  }

  test("insert rejects wrong-dimension vectors") {
    val adds = Seq((777L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val m2 = IvfMutate.insert(model, adds)
    assert(m2.totalVectors == model.totalVectors)
  }

  test("delete then search never returns the deleted id; unknown ids no-op (O9)") {
    val m2 = IvfMutate.delete(model, Seq(3L, 123456L).toDF("vec_id"))
    assert(m2.totalVectors == model.totalVectors - 1)
    val res = IvfSearch.search(m2, queriesOf(3L), IvfSearch.Params(k = 10, targetRecall = 0.95, maxProbe = 64))
    assert(!res.select("vec_id").as[Long].collect().contains(3L))
  }

  /** (pid, vec_id, embedding) of every row of a model's vectors table. */
  private def membersOf(m: IvfModel): Map[Long, Seq[(Long, Array[Float])]] =
    m.vectors.select("partition_id", "vec_id", "embedding").as[(Long, Long, Seq[Float])].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3.toArray)).toSeq).toMap

  /** Touched partitions match a driver-side replay over their members (size
    * = member count, centroid = float cast of the double-accumulated mean,
    * within 1 ulp since summation order follows partitioning); every other
    * partition keeps its centroid values and size exactly. */
  private def assertStatsExact(before: IvfModel, after: IvfModel, touched: Set[Long]): Unit = {
    val members = membersOf(after)
    after.partitions.foreach { p =>
      val ms = members.getOrElse(p.pid, Seq.empty)
      if (touched.contains(p.pid)) {
        assert(p.size == ms.length, s"pid ${p.pid}: size ${p.size} != ${ms.length} members")
        if (ms.nonEmpty) {
          val sum = new Array[Double](after.dim)
          ms.foreach { case (_, v) => v.indices.foreach(i => sum(i) += v(i)) }
          sum.indices.foreach { i =>
            val want = (sum(i) / ms.length).toFloat
            assert(math.abs(p.centroid(i) - want) <= math.ulp(want), s"pid ${p.pid} dim $i: ${p.centroid(i)} vs $want")
          }
        } else {
          val old = before.partitions(p.pid.toInt)
          assert(p.centroid.toSeq == old.centroid.toSeq, s"husk ${p.pid} must keep its last centroid")
        }
      } else {
        val old = before.partitions(p.pid.toInt)
        assert(p.size == old.size && p.centroid.toSeq == old.centroid.toSeq, s"untouched pid ${p.pid} changed")
        assert(p.size == ms.length, s"untouched pid ${p.pid}: size ${p.size} != ${ms.length} members")
      }
    }
  }

  test("insert and delete keep touched centroids and sizes exact; untouched partitions keep theirs") {
    // an empty routing list on one coarse cell exercises the new-partition branch
    val emptied = model.coarseBaseIds.keys.min
    val m0 = model.copy(coarseBaseIds = model.coarseBaseIds.updated(emptied, Vector.empty))
    val rng = new scala.util.Random(11)
    val near = emb.select("embedding").as[Seq[Float]].collect().take(12).zipWithIndex.map { case (v, i) =>
      (500000L + i, v.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val adds = (near :+ ((600000L, model.coarseCentroids(emptied.toInt).toSeq))).toSeq.toDF("vec_id", "embedding")
    val m1 = IvfMutate.insert(m0, adds)
    assert(m1.partitions.length == m0.partitions.length + 1, "one new partition for the emptied cell")
    val insertedPids = m1.vectors.filter(col("vec_id") >= 500000L).select("partition_id").as[Long].collect().toSet
    assert(insertedPids.contains(m0.partitions.length.toLong))
    assertStatsExact(m0, m1, insertedPids)

    // delete: every member of the smallest partition (it becomes a husk),
    // one member of another, an inserted row and an unknown id
    val members = membersOf(m1)
    val victim = m1.partitions.filter(_.size > 0).minBy(_.size).pid
    val other = m1.partitions.find(p => p.pid != victim && p.size > 1).get.pid
    val dels = members(victim).map(_._1) ++ Seq(members(other).head._1, 600000L, 987654321L)
    val m2 = IvfMutate.delete(m1, dels.toDF("vec_id"))
    val deletedPids = members.collect { case (pid, ms) if ms.exists(r => dels.contains(r._1)) => pid }.toSet
    assert(m2.partitions(victim.toInt).size == 0L, "emptied partition stays as a husk")
    assert(m2.partitions.length == m1.partitions.length)
    assertStatsExact(m1, m2, deletedPids)
  }

  private def l2(a: Seq[Float], b: Array[Float]): Double =
    a.indices.foldLeft(0.0) { (s, i) => val d = a(i).toDouble - b(i); s + d * d }

  /** Driver-side routing replay: coarse argmin, then base argmin in the
    * cell's routing list (ties → lowest id); empty cells get dense new pids.
    * Returns each inserted row's pid. */
  private def replay(m: IvfModel, rows: Seq[(Long, Seq[Float])]): Map[Long, Long] = {
    val routes = rows.filter(_._2.length == m.dim).map { case (id, v) =>
      val cell = m.coarseCentroids.indices.minBy(c => (l2(v, m.coarseCentroids(c)), c)).toLong
      val pids = m.coarseBaseIds.getOrElse(cell, Vector.empty)
      id -> (cell, if (pids.isEmpty) None else Some(pids.minBy(p => (l2(v, m.partitions(p.toInt).centroid), p))))
    }
    val newPid = routes.collect { case (_, (c, None)) => c }.distinct.sorted.zipWithIndex
      .map { case (c, i) => c -> (m.partitions.length + i).toLong }.toMap
    routes.map { case (id, (c, p)) => id -> p.getOrElse(newPid(c)) }.toMap
  }

  test("insert routing equals a driver-side two-level argmin (ties → lowest id, empty cells, wrong dim)") {
    // 2-d toy index: cell 0 routes to pids [1, 0] (unsorted, so a tie is
    // decided by id, not list order), cell 1 to [2], cells 2 and 3 are empty
    val vs = Seq(
      (1L, Seq(-1f, 0f), 0L), (2L, Seq(-1f, 0f), 0L),
      (3L, Seq(1f, 0f), 1L),
      (4L, Seq(10f, 0f), 2L))
    val toy = IvfModel(
      dim = 2,
      vectors = vs.toDF("vec_id", "embedding", "partition_id"),
      coarseCentroids = Array(Array(0f, 0f), Array(10f, 0f), Array(0f, 10f), Array(0f, -10f)),
      coarseBaseIds = Map(0L -> Vector(1L, 0L), 1L -> Vector(2L), 2L -> Vector.empty),
      partitions = Vector(
        PartitionMeta(0L, 0L, Array(-1f, 0f), 2L, 0L, 0L),
        PartitionMeta(1L, 0L, Array(1f, 0f), 1L, 0L, 0L),
        PartitionMeta(2L, 1L, Array(10f, 0f), 1L, 0L, 0L)),
      queryCounter = 0L)
    val batch = Seq(
      (10L, Seq(5f, 0f)),      // equidistant from coarse 0 and 1 → cell 0, then pid 1
      (11L, Seq(0f, 0.5f)),    // cell 0, equidistant from pids 0 and 1 → pid 0
      (12L, Seq(0f, -9f)),     // empty cell 3, listed before cell 2's row
      (13L, Seq(1f, 9f)),      // empty cell 2
      (14L, Seq(9f, 1f)),      // cell 1 → pid 2
      (15L, Seq(0f, -11f)),    // empty cell 3 again: same new pid
      (16L, Seq(1f, 2f, 3f)))  // wrong dimension: dropped
    val m2 = IvfMutate.insert(toy, batch.toDF("vec_id", "embedding"))

    def routedPids(m: IvfModel, from: Long): Map[Long, Long] =
      m.vectors.filter(col("vec_id") >= from).select("vec_id", "partition_id").as[(Long, Long)].collect().toMap

    val want = replay(toy, batch)
    assert(routedPids(m2, 10L) == want)
    // the crafted cases hold the properties they were built for
    assert(want == Map(10L -> 1L, 11L -> 0L, 12L -> 4L, 13L -> 3L, 14L -> 2L, 15L -> 4L))
    assert(m2.partitions.map(p => (p.pid, p.coarseId, p.size)) ==
      Vector((0L, 0L, 3L), (1L, 0L, 2L), (2L, 1L, 2L), (3L, 2L, 1L), (4L, 3L, 2L)))
    assert(m2.coarseBaseIds == Map(0L -> Vector(1L, 0L), 1L -> Vector(2L), 2L -> Vector(3L), 3L -> Vector(4L)))

    // the fixture index: scaled copies of its members route as the replay does
    val scaled = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => (800000L + id, v.map(_ * 1.05f)) }
    assert(routedPids(IvfMutate.insert(model, scaled.toDF("vec_id", "embedding")), 800000L) == replay(model, scaled))
  }

  test("a write costs the batch: insert + checkpoint and delete + checkpoint stay within their job budgets") {
    // Budgets are the counts the batch-sized write path runs (they repeat
    // run to run): insert is the route-pair collect plus one stats pass over
    // the appended view, delete the touched-pid scan plus one pass that
    // stores the survivors and sums the touched partitions; neither
    // checkpoint copies. A checkpoint that copied the table after every
    // write ran 3 and 4; the corpus-wide aggregation before it, 12 and 5.
    val adds = Seq((700000L, Seq.fill(64)(0.2f)), (700001L, Seq.fill(64)(-0.2f))).toDF("vec_id", "embedding")
    val base = IvfMutate.checkpoint(model)
    val (m1, insertJobs, _) = costOf(IvfMutate.checkpoint(IvfMutate.insert(base, adds)))
    val (m2, deleteJobs, _) = costOf(IvfMutate.checkpoint(IvfMutate.delete(m1, Seq(700000L, 3L).toDF("vec_id"))))
    info(s"insert + checkpoint: $insertJobs jobs; delete + checkpoint: $deleteJobs jobs")
    assert(m2.totalVectors == model.totalVectors)
    assert(m2.vectors.count() == m2.totalVectors)
    assert(insertJobs <= 2, s"insert + checkpoint ran $insertJobs jobs")
    assert(deleteJobs <= 2, s"delete + checkpoint ran $deleteJobs jobs")
  }

  test("checkpoint of a leaf returns the same model and runs no job") {
    // the local build stores its table, so it is a leaf from the start
    val base = model
    val ins = IvfMutate.insert(base, Seq((710000L, Seq.fill(64)(0.3f))).toDF("vec_id", "embedding"))
    val del = IvfMutate.delete(ins, Seq(710000L, 5L).toDF("vec_id"))
    Seq("built" -> base, "inserted" -> ins, "deleted" -> del).foreach { case (what, m) =>
      val (out, jobs, _) = costOf(IvfMutate.checkpoint(m))
      assert(out eq m, s"$what: checkpoint returned a new model")
      assert(out.vectors eq m.vectors, s"$what: checkpoint replaced vectors")
      assert(jobs == 0, s"$what: checkpoint ran $jobs jobs")
    }
    assert(del.vectors.count() == model.totalVectors - 1 && del.totalVectors == model.totalVectors - 1)
  }

  test("a split-forcing maintain is shuffle-free and runs a pinned number of jobs") {
    // the split halves' means come from one kernel pass over the cached
    // subset; the groupBy they replaced shuffled per-(pid, half) partials
    val base = IvfMutate.checkpoint(model)
    val (m2, jobs, shuffleBytes) = costOf(IvfMaintain.maintain(base, splitSize = 16L, mergeSize = 2L))
    info(s"maintain: $jobs jobs, $shuffleBytes shuffle bytes")
    assert(m2.totalVectors == model.totalVectors)
    assert(shuffleBytes == 0L, s"maintain shuffled $shuffleBytes bytes")
    // fit's dimension probe, its bounded count, the local-fit collect and
    // the halves kernel pass; a maintain that splits nothing runs none
    assert(jobs == 4, s"maintain ran $jobs jobs")
  }

  test("a split-forcing maintain and its checkpoint copy the table once, shuffle-free") {
    // the split moves its rows map-side over the table, so the checkpoint
    // reads the table once; re-deriving the split subset through the fit's
    // assignment frame cost the copy a second job
    val base = IvfMutate.checkpoint(model)
    val (m2, jobs, shuffleBytes) =
      costOf(IvfMutate.checkpoint(IvfMaintain.maintain(base, splitSize = 16L, mergeSize = 2L)))
    info(s"maintain + checkpoint: $jobs jobs, $shuffleBytes shuffle bytes")
    assert(m2.partitions.length > model.partitions.length, "precondition: something split")
    assert(shuffleBytes == 0L, s"maintain + checkpoint shuffled $shuffleBytes bytes")
    assert(jobs <= 5, s"maintain + checkpoint ran $jobs jobs")
    val sizes = m2.vectors.groupBy("partition_id").count().as[(Long, Long)].collect().toMap
    m2.partitions.foreach(p => assert(sizes.getOrElse(p.pid, 0L) == p.size, s"pid ${p.pid}"))
    assert(m2.vectors.count() == model.totalVectors)
  }

  /** Splits every fixture partition of 16+ rows and checks each child (the
    * split parents and their new siblings) against a driver-side replay over
    * its members; every other partition must keep its metadata. */
  private def assertSplitExact(m: IvfModel): Unit = {
    val after = IvfMaintain.splitHot(m, IvfMaintain.HotQpsWindow, splitSize = 16L)
    val born = (m.partitions.length until after.partitions.length).map(_.toLong)
    val parents = m.partitions.filter(p => after.partitions(p.pid.toInt).size != p.size).map(_.pid)
    assert(born.nonEmpty && parents.length == born.length, s"${parents.length} parents, ${born.length} new pids")
    assertStatsExact(m, after, parents.toSet ++ born)
  }

  test("split children's centroids and sizes are the mean and count of their members (local and distributed fits)") {
    assertSplitExact(model)
    graft.vector.KMeans.localFitThreshold = 0L
    try assertSplitExact(model)
    finally graft.vector.KMeans.localFitThreshold = graft.vector.KMeans.LocalFitThresholdDefault
  }

  test("split threshold clamps to [split/1.5, split*2] with the reference hotness quirk (O13)") {
    val s = 3000L
    // zero hotness -> raw = split_size
    assert(IvfMaintain.splitThreshold(0L, 0L, 2000.0, s) == 3000.0)
    // huge hotness -> clamped low at split/1.5 = 2000
    assert(IvfMaintain.splitThreshold(1000000L, 0L, 2000.0, s) == 2000.0)
    // negative hotness (hits < last_split_at timestamp quirk) -> max(1, ...) -> split_size
    assert(IvfMaintain.splitThreshold(5L, 4000L, 2000.0, s) == 3000.0)
  }

  test("maintain preserves the vector multiset and id uniqueness") {
    // force both paths: low split size (splits big partitions) and a merge
    val m2 = IvfMaintain.maintain(model, splitSize = 16L, mergeSize = 2L)
    val before = emb.select("vec_id").as[Long].collect().sorted.toSeq
    val after = m2.vectors.select("vec_id").as[Long].collect().sorted.toSeq
    assert(after == before, "vector multiset changed")
    assert(m2.vectors.select("vec_id").distinct().count() == before.length)
    // metadata sizes still agree with the data
    val actualSizes = m2.vectors.groupBy("partition_id").count().as[(Long, Long)].collect().toMap
    m2.partitions.foreach(p => assert(actualSizes.getOrElse(p.pid, 0L) == p.size, s"pid ${p.pid}"))
    assert(m2.partitions.zipWithIndex.forall { case (p, i) => p.pid == i.toLong }, "pid density")
  }

  test("merged-away partitions stay as zero-size husks (quake_min.py:209-210)") {
    // reference fidelity is behind compactHusks = false (engine default compacts)
    val m2 = IvfMaintain.maintain(model, splitSize = 1000000L, mergeSize = 1000000L, compactHusks = false)
    // with mergeSize huge every partition is tiny -> chains absorb; husks remain
    assert(m2.partitions.length == model.partitions.length, "husks must not be compacted away")
    assert(m2.totalVectors == model.totalVectors)
  }

  test("compactHusks drops zero-size partitions, renumbers densely, preserves vectors") {
    val merged = IvfMaintain.maintain(model, splitSize = 1000000L, mergeSize = 1000000L, compactHusks = false)
    assert(merged.partitions.exists(_.size == 0L), "precondition: husks exist")
    val compacted = IvfMaintain.maintain(model, splitSize = 1000000L, mergeSize = 1000000L, compactHusks = true)
    assert(compacted.partitions.forall(_.size > 0L))
    assert(compacted.partitions.zipWithIndex.forall { case (p, i) => p.pid == i.toLong })
    assert(compacted.totalVectors == model.totalVectors)
    assert(compacted.vectors.count() == model.vectors.count())
    // metadata still agrees with the data after the remap
    val sizes = compacted.vectors.groupBy("partition_id").count().as[(Long, Long)].collect().toMap
    compacted.partitions.foreach(p => assert(sizes.getOrElse(p.pid, 0L) == p.size))
  }

  test("recallAtK emits a row for every query, including no-result ones") {
    val qs = Seq((1L, Seq.fill(64)(0f)), (2L, Seq.fill(64)(1f))).toDF("query_id", "qvec")
    val results = Seq((1L, 1, 5L)).toDF("query_id", "rank", "vec_id")
    val exact = Seq((1L, 1, 5L), (1L, 2, 6L)).toDF("query_id", "rank", "vec_id")
    val rec = IvfSearch.recallAtK(results, exact, 10, qs)
      .as[(Long, Double)].collect().toMap
    assert(rec.keySet == Set(1L, 2L))
    assert(rec(1L) == 0.5)
    assert(rec(2L) == 0.0)
  }

  test("distributed build + search path (forced past the local-fit threshold) hits the recall bar") {
    graft.vector.KMeans.localFitThreshold = 0L
    try {
      val m = IvfBuild.build(emb, dim = 64)
      assert(m.totalVectors == emb.count())
      assert(m.partitions.zipWithIndex.forall { case (p, i) => p.pid == i.toLong })
      val qs = queriesOf(0L to 9L: _*)
      val res = IvfSearch.search(m, qs, IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64))
      val exact = IvfSearch.exactTopK(emb, qs, 10)
      val recall = IvfSearch.recallAtK(res, exact, 10, qs).agg(avg("recall")).head.getDouble(0)
      assert(recall >= 0.9, s"distributed-path recall $recall")
    } finally graft.vector.KMeans.localFitThreshold = graft.vector.KMeans.LocalFitThresholdDefault
  }

  test("checkpoint re-bounds RDD partitions across mutation epochs (quadratic-replay regression)") {
    // Each insert unions a tiny batch (appending its RDD partitions) and
    // each delete stacks an anti-join; without the coalesce inside
    // IvfMutate.checkpoint a long-lived index accumulates sliver partitions
    // and every job pays O(epochs) tasks (measured: 32 -> 832 within 25
    // micro-batches on the sf0.1 replay).
    var m = IvfBuild.build(emb, dim = 64)
    val target = spark.sparkContext.defaultParallelism
    for (epoch <- 0 until 5) {
      val adds = (0 until 4).map(i => (100000L + epoch * 4 + i, Seq.fill(64)(0.5f + 0.01f * i)))
        .toDF("vec_id", "embedding")
      m = IvfMutate.insert(m, adds)
      m = IvfMutate.delete(m, Seq(100000L + epoch * 4).toDF("vec_id"))
      m = IvfMutate.checkpoint(m)
      assert(m.vectors.rdd.getNumPartitions <= target,
        s"epoch $epoch: ${m.vectors.rdd.getNumPartitions} RDD partitions > $target")
    }
    assert(m.totalVectors == emb.count() + 5 * 3)
    assert(m.vectors.count() == m.totalVectors)
  }

  /** Depth of an RDD's lineage: the longest dependency chain below it. */
  private def lineageDepth(rdd: org.apache.spark.rdd.RDD[_]): Int =
    1 + rdd.dependencies.map(d => lineageDepth(d.rdd)).maxOption.getOrElse(0)

  test("20 insert-only epochs (the streaming ingest shape) stay bounded in partitions and lineage; the mirror equals a driver replay") {
    // Each epoch is `StreamingOps.ingest`'s: insert, checkpoint, then
    // unpersist the insert's output unless the checkpoint returned it. A
    // stored table takes one append as a view (the base's blocks, with the
    // batch's added to its last RDD partition); an append to that view is
    // copied, so every second checkpoint copies.
    val target = spark.sparkContext.defaultParallelism
    val rng = new scala.util.Random(5)
    val members = emb.select("embedding").as[Seq[Float]].collect()
    var m = model
    var want = IvfSearch.collectMirror(model.vectors).map { case (pid, id, v) => id -> (pid, v.toSeq) }.toMap
    var copies = 0
    var depth = 0
    for (epoch <- 0 until 20) {
      val rows = (0 until 3).map { i =>
        (720000L + epoch * 3 + i, members(rng.nextInt(members.length)).map(x => x + 0.05f * rng.nextGaussian().toFloat))
      }
      val pids = replay(m, rows)
      want ++= rows.map { case (id, v) => id -> (pids(id), v) }
      val next = IvfMutate.insert(m, rows.toDF("vec_id", "embedding"))
      val checked = IvfMutate.checkpoint(next)
      if (next.vectors ne checked.vectors) { next.vectors.unpersist(); copies += 1 }
      m = checked
      val rdd = m.vectors.queryExecution.toRdd
      assert(rdd.getNumPartitions <= target, s"epoch $epoch: ${rdd.getNumPartitions} RDD partitions > $target")
      val d = lineageDepth(rdd)
      depth = math.max(depth, d)
      assert(d <= 6, s"epoch $epoch: lineage depth $d > 6")
    }
    info(s"20 epochs: $copies checkpoint copies, lineage depth at most $depth")
    assert(copies == 10, s"$copies checkpoint copies: one per 2 appends to the built table")
    assert(m.vectors.count() == emb.count() + 60 && m.totalVectors == emb.count() + 60)
    val got = IvfSearch.collectMirror(m.vectors).map { case (pid, id, v) => id -> (pid, v.toSeq) }
    assert(got.length == want.size, "a row is repeated or missing")
    assert(got.toMap == want)
    val sizes = got.groupBy(_._2._1).view.mapValues(_.length.toLong).toMap
    m.partitions.foreach(p => assert(sizes.getOrElse(p.pid, 0L) == p.size, s"pid ${p.pid}"))
  }

  test("superseded tables are unpersisted after every write; a caller-cached base is copied, not viewed") {
    // The perfbench and Replay shape: write, checkpoint, then unpersist the
    // superseded table unless it is the live one. The first write sits on a
    // caller-cached table, which a view would lose with its cache.
    val own = model.vectors.select("vec_id", "embedding", "partition_id").cache()
    own.count()
    var m = model.copy(vectors = own)
    val live = scala.collection.mutable.Map.empty[Long, Seq[Float]] ++=
      emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def write(name: String, add: Seq[(Long, Seq[Float])] = Nil, drop: Seq[Long] = Nil)(f: IvfModel => IvfModel): Unit = {
      val next = IvfMutate.checkpoint(f(m))
      if (next.vectors ne m.vectors) m.vectors.unpersist()
      assert(m.vectors.storageLevel == org.apache.spark.storage.StorageLevel.NONE, s"$name: superseded table still cached")
      m = next
      live ++= add
      live --= drop
      val rows = m.vectors.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      val byId = rows.toMap
      val bad = (byId.keySet ++ live.keySet).filterNot(id => byId.get(id) == live.get(id))
      assert(rows.length == live.size && bad.isEmpty, s"$name: ${rows.length} rows, ${live.size} live; ids ${bad.toSeq.sorted.take(5)} differ")
      val sizes = m.vectors.groupBy("partition_id").count().as[(Long, Long)].collect().toMap
      m.partitions.foreach(p => assert(sizes.getOrElse(p.pid, 0L) == p.size, s"$name: pid ${p.pid}"))
    }
    val adds = (0 until 4).map(i => (730000L + i, Seq.fill(64)(0.1f * i)))
    write("insert over the cached base", add = adds) { b =>
      val out = IvfMutate.insert(b, adds.toDF("vec_id", "embedding"))
      assert(IvfMutate.checkpoint(out).vectors ne out.vectors, "a view over a cached table must be copied")
      out
    }
    assert(own.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    write("delete", drop = Seq(730000L, 7L))(IvfMutate.delete(_, Seq(730000L, 7L).toDF("vec_id")))
    val more = (0 until 3).map(i => (740000L + i, Seq.fill(64)(-0.1f * i)))
    write("insert over a leaf", add = more)(IvfMutate.insert(_, more.toDF("vec_id", "embedding")))
    write("maintain")(IvfMaintain.maintain(_, splitSize = 16L, mergeSize = 2L))
    val one = Seq((750000L, Seq.fill(64)(0.05f)))
    write("insert after maintain", add = one)(IvfMutate.insert(_, one.toDF("vec_id", "embedding")))
    write("delete after maintain", drop = Seq(740001L, 750000L))(IvfMutate.delete(_, Seq(740001L, 750000L).toDF("vec_id")))
  }

  test("a delete's stored table does not keep the table it replaced in memory") {
    // Build, insert (a view over the built table's stored RDD), delete: once
    // the built and inserted models are gone, nothing the delete returned
    // may reach the built table's RDD, or its blocks stay stored for as long
    // as the delete's table lives. The writes run in their own method so no
    // frame of this test holds them.
    def writes(): (IvfModel, java.lang.ref.WeakReference[AnyRef]) = {
      val built = IvfBuild.build(emb, dim = 64)
      val stored = built.vectors.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      val ins = IvfMutate.insert(built, Seq((760000L, Seq.fill(64)(0.3f))).toDF("vec_id", "embedding"))
      (IvfMutate.delete(ins, Seq(760000L, 9L).toDF("vec_id")), new java.lang.ref.WeakReference[AnyRef](stored))
    }
    val (m, builtRdd) = writes()
    val freed = (1 to 10).exists { _ => System.gc(); Thread.sleep(50); builtRdd.get == null }
    assert(freed, "the deleted-from table's RDD is still reachable from the delete's result")
    assert(m.vectors.count() == emb.count() - 1 && m.totalVectors == emb.count() - 1)
  }

  test("model save/load round-trips through partitioned parquet") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    IvfModel.save(spark, model, dir)
    val loaded = IvfModel.load(spark, dir)
    assert(loaded.dim == model.dim)
    assert(loaded.partitions.map(p => (p.pid, p.size)) == model.partitions.map(p => (p.pid, p.size)))
    assert(loaded.vectors.count() == model.vectors.count())
  }

  test("searchPruned on a saved index prunes parquet partitions (PartitionFilters) with identical results") {
    val dir = java.nio.file.Files.createTempDirectory("ivfp").toString
    IvfModel.save(spark, model, dir)
    val loaded = IvfModel.load(spark, dir)
    val params = IvfSearch.Params(k = 10, targetRecall = 0.5, maxProbe = 4)
    val local = queriesOf(0L, 1L).select("query_id", "qvec").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }.toSeq
    val pruned = IvfSearch.searchPruned(loaded, local, params)
    // the scan must carry a partition filter on partition_id
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("partition_id"), plan.take(2000))
    // and results must equal the unpruned DataFrame path on the same model
    val viaDf = IvfSearch.search(loaded, queriesOf(0L, 1L), params)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(pruned.as[(Long, Int, Long, Double)].collect().toSet == viaDf)
  }
}
