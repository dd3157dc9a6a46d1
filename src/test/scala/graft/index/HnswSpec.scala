package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").cache()

  test("layers are nested, geometric, deterministic, and the top is brute-forceable") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
    assert(layers.length >= 2, s"500 nodes at shrink 16 must stack ≥ 2 layers")
    val sizes = layers.map(_.nodes.count())
    // top-first: sizes strictly increase downward; bottom is the corpus
    assert(sizes == sizes.sorted, s"layer sizes not increasing: $sizes")
    assert(sizes.last == 500L, s"layer 0 must be the whole corpus, got ${sizes.last}")
    assert(sizes.head <= 256L, s"top layer ${sizes.head} not brute-forceable")
    // nesting: every upper-layer member appears in the layer below
    layers.sliding(2).foreach { case Seq(upper, lower) =>
      assert(
        upper.nodes.select("vec_id")
          .exceptAll(lower.nodes.select("vec_id")).isEmpty,
        "upper layer is not a subset of the lower layer")
    }
    // determinism: a rebuild yields identical member sets
    val again = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
    layers.zip(again).foreach { case (a, b) =>
      assert(a.nodes.select("vec_id").exceptAll(b.nodes.select("vec_id")).isEmpty)
    }
  }

  test("hierarchical search clears the recall bar with no external router") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = Hnsw.search(q, layers, k = 5, beam = 16, rounds = 6)
    val exact = KnnJoin.exact(q, emb, k = 5)
      .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mine = got.select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mean = exact.map { case (qid, want) =>
      (mine.getOrElse(qid, Set.empty) & want).size.toDouble / want.size
    }.sum / exact.size
    layers.foreach(_.graph.unpersist())
    assert(mean >= 0.9, s"hierarchical recall@5 $mean below bar")
    // contract shape: exactly k distinct ranked rows per query
    val per = got.groupBy("query_id").agg(
      count(lit(1)).as("n"), countDistinct("vec_id").as("nd"), max("rnk").as("mr"))
    assert(per.filter(col("n") =!= 5 || col("nd") =!= 5 || col("mr") =!= 5).isEmpty)
  }

  test("a corpus small enough for one layer degenerates to a plain seeded walk") {
    val tiny = emb.filter(col("vec_id") < 60)
    val layers = Hnsw.build(tiny, k = 4, shrink = 16, topCap = 256L)
    assert(layers.length == 1, s"60 nodes must be a single (top) layer, got ${layers.length}")
    val q = tiny.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = Hnsw.search(q, layers, k = 3, beam = 8, rounds = 4)
    val per = got.groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(per.filter(col("n") =!= 3).isEmpty)
  }

  test("upper layers carry real graphs: every layer's mean out-degree is near k") {
    // regression pin for the round-15 finding: routing upper-layer builds
    // through the FULL-corpus model starves them through knnGraph's
    // closure semi-join (expected hits of a corpus top-(k+1) inside an
    // n/shrink^i member set ≈ (k+1)/shrink^i → near-edgeless graphs, so
    // the hierarchy did no routing). With layer-local indexes the upper
    // graphs must look like k-NN graphs, not husks.
    val model = IvfBuild.build(emb, 64)
    val layers = Hnsw.build(emb, k = 4, Some(model), shrink = 4, topCap = 64L)
    assert(layers.length >= 2, s"need a real stack, got ${layers.length}")
    layers.foreach { l =>
      val n = l.nodes.count().toDouble
      val edges = l.graph.count().toDouble
      assert(edges / n >= 2.0,
        s"layer with $n nodes has mean out-degree ${edges / n} — an edgeless husk (k=4)")
    }
  }

  test("delete: membership = survivors by level rule, no dangling edges, deleted unreachable, survivors searchable") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val ids = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110).select("vec_id")
    val shrunk = Hnsw.delete(layers, ids, k = 6)
    shrunk.zip(layers).foreach { case (s2, old) =>
      val want = old.nodes.select("vec_id").join(ids, Seq("vec_id"), "left_anti")
      val have = s2.nodes.select("vec_id")
      assert(have.exceptAll(want).isEmpty && want.exceptAll(have).isEmpty,
        "survivor membership differs from nodes-minus-deleted")
      assert(s2.graph.groupBy("src").agg(count(lit(1)).as("n")).filter(col("n") > 6).isEmpty,
        "degree budget exceeded after delete repair")
      assert(
        s2.graph.join(ids.withColumnRenamed("vec_id", "src"), Seq("src"), "left_semi").isEmpty &&
          s2.graph.join(ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi").isEmpty,
        "dangling edge references a deleted id")
    }
    // probing AT each deleted vector finds only survivors, led by the
    // true nearest survivor (the exact oracle over nodes-minus-deleted)
    val probes = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = Hnsw.search(probes, shrunk, k = 3, beam = 16, rounds = 6)
    assert(got.join(ids, Seq("vec_id"), "left_semi").isEmpty,
      "a deleted id surfaced in post-delete search results")
    val survivors = emb.join(ids, Seq("vec_id"), "left_anti")
    val exact = KnnJoin.exact(probes, survivors, k = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    val top1 = got.filter(col("rnk") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    val hits = exact.count { case (q, v) => top1.get(q).contains(v) }
    assert(hits >= 8, s"only $hits/10 deleted-probe walks found the exact nearest survivor")
    layers.foreach(_.graph.unpersist())
  }

  test("deepen adds exactly one rebuild-equivalent level and keeps search green") {
    val layers = Hnsw.build(emb, k = 6, shrink = 2, topCap = 30L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val deeper = Hnsw.deepen(layers, k = 6, shrink = 2)
    assert(deeper.length == layers.length + 1, "deepen must add exactly one layer")
    // the new top is the level rule at the next modulus — i.e. what a
    // from-scratch build one level deeper would route
    val mod = math.pow(2, (deeper.length - 1).toDouble).toLong
    val want = emb.select("vec_id").filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
    val have = deeper.head.nodes.select("vec_id")
    assert(have.exceptAll(want).isEmpty && want.exceptAll(have).isEmpty,
      "new top differs from the level rule at the next modulus")
    assert(have.count() < layers.head.nodes.count(), "new top did not shrink")
    // degree budget + search through the deepened stack still lands
    assert(deeper.head.graph.groupBy("src").agg(count(lit(1)).as("n"))
      .filter(col("n") > 6).isEmpty, "new top graph exceeds the degree budget")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = Hnsw.search(q, deeper, k = 3, beam = 16, rounds = 6)
    val per = got.groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(per.filter(col("n") =!= 3).isEmpty)
    layers.foreach(_.graph.unpersist())
  }

  test("wear-out loop end-to-end: insert batches erode the topCap bound, one deepen restores it with search parity") {
    // the composed maintenance trajectory the warnIfTopOversized warning
    // points at, driven as ONE story (VERDICT r16 #3): build near the
    // bound → insert batches whose ids hash to the TOP level until the
    // broadcast bound genuinely erodes (the warn's own size condition) →
    // deepen → the bound is restored, the new top is rebuild-equivalent,
    // and search through the deepened stack still lands.
    val topCap = 30L
    val layers = Hnsw.build(emb, k = 6, shrink = 2, topCap = topCap)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val L = layers.length
    val topMod = (0 until (L - 1)).foldLeft(1L)((m, _) => m * 2)
    val n0Top = layers.head.nodes.count()
    assert(n0Top <= topCap, "build must start inside the bound")
    // candidate ids chosen BY the level rule to land on the current top
    // layer (xxhash64 % topMod == 0) — the worst-case trickle, so a small
    // batch erodes the bound a real workload erodes over many batches
    val candIds = spark.range(10000L, 40000L)
      .filter(pmod(xxhash64(col("id")), lit(topMod)) === 0)
      .limit((topCap + 10L - n0Top).toInt)
      .as[Long].collect()
    assert(candIds.length.toLong == topCap + 10L - n0Top, "not enough top-level candidate ids")
    val embs = emb.orderBy("vec_id").limit(candIds.length)
      .select("embedding").as[Seq[Float]].collect()
    def batchDf(pairs: Seq[(Long, Seq[Float])]) =
      pairs.toDF("vec_id", "embedding")
        .select(
          col("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.001f)).cast("float")),
            slice(col("embedding"), 2, 10000)).as("embedding"))
    val (half1, half2) = candIds.zip(embs).toSeq.splitAt(candIds.length / 2)
    // two insert batches: the bound erodes ACROSS batches, not in one shot
    val grownOnce = Hnsw.insert(layers, batchDf(half1), k = 6, beam = 16, rounds = 6, shrink = 2, topCap = topCap)
    val grown = Hnsw.insert(grownOnce, batchDf(half2), k = 6, beam = 16, rounds = 6, shrink = 2, topCap = topCap)
    // the warn's own condition now holds: the top outgrew its broadcast
    // bound (warnIfTopOversized fires on exactly this count — asserted by
    // state rather than a log captor)
    val grownTop = grown.head.nodes.count()
    assert(grownTop == topCap + 10L, s"top should hold ${topCap + 10} nodes, got $grownTop")
    assert(grownTop > topCap, "the broadcast bound must be genuinely eroded")
    // ONE deepen restores the bound without touching any lower layer
    val deepened = Hnsw.deepen(grown, k = 6, shrink = 2)
    assert(deepened.length == grown.length + 1, "deepen must add exactly one level")
    val newTop = deepened.head.nodes.count()
    assert(newTop <= topCap, s"deepen left the top at $newTop > topCap $topCap")
    // rebuild-equivalence: the new top is the level rule over
    // (corpus ∪ inserted) at the next modulus
    val allIds = emb.select("vec_id")
      .unionByName(candIds.toSeq.toDF("vec_id"))
    val want = allIds.filter(pmod(xxhash64(col("vec_id")), lit(topMod * 2)) === 0)
    val have = deepened.head.nodes.select("vec_id")
    assert(have.exceptAll(want).isEmpty && want.exceptAll(have).isEmpty,
      "deepened top differs from the level rule over corpus ∪ inserted")
    // search parity: the inserted rows stay rank-1 findable THROUGH the
    // deepened stack (the extra routing hop loses nothing), and member
    // probes still return k ranked rows
    val probeIds = candIds.take(5).toSet
    val probes = batchDf(candIds.zip(embs).toSeq.filter(p => probeIds.contains(p._1)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = Hnsw.search(probes, deepened, k = 3, beam = 16, rounds = 6)
      .filter(col("rnk") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    probeIds.foreach { id =>
      assert(top1.get(id).contains(id), s"inserted $id lost after deepen: got ${top1.get(id)}")
    }
    val memberProbes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val per = Hnsw.search(memberProbes, deepened, k = 3, beam = 16, rounds = 6)
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(per.filter(col("n") =!= 3).isEmpty, "member search shape broke after deepen")
    layers.foreach(_.graph.unpersist())
  }

  test("save/load round-trips the stack: layer count, member sets, edge sets, search results") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_spec_").toString
    try {
      Hnsw.save(layers, 6, tmp)
      // the meta carries the BUILD parameters — a loaded stack is a
      // first-class mutation input, and insert/deepen must use them
      val stack = Hnsw.loadStack(spark, tmp)
      assert(stack.k == 6 && stack.shrink == 16 && stack.topCap == 256L,
        s"persisted build parameters did not round-trip: $stack")
      val loaded = stack.layers
      assert(loaded.length == layers.length, "layer count changed through save/load")
      loaded.zip(layers).foreach { case (l, o) =>
        assert(
          l.nodes.select("vec_id").exceptAll(o.nodes.select("vec_id")).isEmpty &&
            o.nodes.select("vec_id").exceptAll(l.nodes.select("vec_id")).isEmpty,
          "member set changed through save/load")
        val le = l.graph.select("src", "dst", "rnk")
        val oe = o.graph.select("src", "dst", "rnk")
        assert(le.exceptAll(oe).isEmpty && oe.exceptAll(le).isEmpty,
          "edge set changed through save/load")
      }
      // the user-visible contract: identical search results
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val a = Hnsw.search(q, layers, k = 5, beam = 16, rounds = 6)
      val b = Hnsw.search(q, loaded, k = 5, beam = 16, rounds = 6)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "search through the loaded stack differs from the live stack")
    } finally {
      layers.foreach(_.graph.unpersist())
      graft.rel.PipelineQueries.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("a LOADED stack is mutable: save → load → insert → planted rank-1 through the grown artifact") {
    // the full deploy-once user path: persist the index, load it in a
    // fresh consumer (plain scans, no session caches), and ingest into
    // THAT — the loaded layers must be first-class insert inputs, not a
    // read-only snapshot
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_spec_mut_").toString
    try {
      Hnsw.save(layers, 6, tmp)
      val loaded = Hnsw.load(spark, tmp)
      val batch = emb.filter(col("vec_id") < 5)
        .select(
          (col("vec_id") + 900000000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.001f)).cast("float")),
            slice(col("embedding"), 2, 10000)).as("embedding"))
      val grown = Hnsw.insert(loaded, batch, k = 6, beam = 16, rounds = 6, shrink = 16)
      assert(grown.last.nodes.count() == emb.count() + 5, "batch did not land in the loaded stack")
      val probes = batch.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val top1 = Hnsw.search(probes, grown, k = 3, beam = 16, rounds = 6)
        .filter(col("rnk") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      (0L until 5L).foreach { i =>
        assert(top1.get(900000000L + i).contains(900000000L + i),
          s"planted ${900000000L + i} not recovered through the grown loaded stack")
      }
    } finally {
      layers.foreach(_.graph.unpersist())
      graft.rel.PipelineQueries.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("insert: level nesting invariant under insert, degrees bounded, planted rank-1 recovery") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    // batch = near-duplicates of 10 existing rows, ids far outside the
    // corpus range (first element nudged, rest intact — closest possible
    // neighbor of its source without the exact-duplicate degeneracy)
    val batch = emb.filter(col("vec_id") < 10)
      .select(
        (col("vec_id") + 1000000000L).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) + lit(0.001f)).cast("float")),
          slice(col("embedding"), 2, 10000)).as("embedding"))
      .cache()
    // insert returns lineage-truncated, already-materialized layers
    val grown = Hnsw.insert(layers, batch, k = 6, beam = 16, rounds = 6, shrink = 16)

    // membership: each layer's member set is EXACTLY the hash rule over
    // (old corpus ∪ batch) at that layer's modulus — i.e. the stack an
    // offline rebuild would route, so nesting is invariant by level rule
    val allIds = emb.select("vec_id").unionByName(batch.select("vec_id"))
    val L = grown.length
    grown.zipWithIndex.foreach { case (l, p) =>
      val mod = math.pow(16, (L - 1 - p).toDouble).toLong
      val want = allIds.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      assert(
        l.nodes.select("vec_id").exceptAll(want).isEmpty &&
          want.exceptAll(l.nodes.select("vec_id")).isEmpty,
        s"layer $p membership differs from the level rule at mod $mod")
    }
    // degree budget holds everywhere after the repair
    grown.foreach { l =>
      assert(l.graph.groupBy("src").agg(count(lit(1)).as("n")).filter(col("n") > 6).isEmpty,
        "repair exceeded the out-degree budget")
    }
    // planted rank-1 recovery: querying AT each planted vector finds the
    // planted id first (it is nearer to the probe than its source row)
    val probes = batch.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = Hnsw.search(probes, grown, k = 3, beam = 16, rounds = 6)
    val top1 = got.filter(col("rnk") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { i =>
      assert(top1.get(1000000000L + i).contains(1000000000L + i),
        s"planted ${1000000000L + i} not recovered at rank 1: got ${top1.get(1000000000L + i)}")
    }
    layers.foreach(_.graph.unpersist())
    batch.unpersist()
  }

  private def assertStackEq(
      a: Seq[Hnsw.Layer], b: Seq[Hnsw.Layer], msg: String): Unit = {
    assert(a.length == b.length, s"$msg: depth ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) =>
      val nx = x.nodes.select("vec_id")
      val ny = y.nodes.select("vec_id")
      assert(nx.exceptAll(ny).isEmpty && ny.exceptAll(nx).isEmpty,
        s"$msg: member sets differ")
      val gx = x.graph.select("src", "dst", "rnk")
      val gy = y.graph.select("src", "dst", "rnk")
      assert(gx.exceptAll(gy).isEmpty && gy.exceptAll(gx).isEmpty,
        s"$msg: edge sets differ")
    }
  }

  test("delta log: insert+delete epochs replay to the live stack, retries and stale dirs are no-ops, compaction bounds the log") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_spec_log_").toString
    try {
      Hnsw.save(layers, 6, tmp)
      // epoch 0: insert 5 planted near-duplicates
      val batch = emb.filter(col("vec_id") < 5)
        .select(
          (col("vec_id") + 900000000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.001f)).cast("float")),
            slice(col("embedding"), 2, 10000)).as("embedding"))
      val (afterIns, dIns) =
        Hnsw.insertWithDelta(layers, batch, k = 6, beam = 16, rounds = 6)
      Hnsw.saveDelta(dIns, 0L, tmp)
      // the log write is batch-sized: layer 0's upsert srcs are bounded by
      // |batch| new nodes + the ≤ |batch|·k touched survivors
      val ups0 = dIns.last.graphUpserts.select("src").distinct().count()
      assert(ups0 <= 5L * (6 + 1), s"insert delta touched $ups0 srcs — not batch-bounded")
      // epoch 1: delete three members and one unknown id (O9's no-op)
      val delIds = Seq(0L, 1L, 2L, 123456789L).toDF("vec_id")
      val (afterDel, dDel) = Hnsw.deleteWithDelta(afterIns, delIds, k = 6)
      Hnsw.saveDelta(dDel, 1L, tmp)
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "base+log vs live")
      // a foreachBatch epoch RETRY re-publishes the same epoch id — a
      // NO-OP: the original epoch wins. The retry here carries DIFFERENT
      // content (the insert delta under the delete epoch's id — the
      // recomputed-against-applied-state shape of a real retry); if the
      // publish replaced the dir, the fold below would apply dIns twice
      // and dDel never. Skipping also closes the delete-then-rename
      // window a reader could race.
      Hnsw.saveDelta(dIns, 1L, tmp)
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "after epoch retry")
      // compaction folds the log into the base, keeps the build params,
      // and leaves no pending epoch dirs
      val compacted = Hnsw.compact(spark, tmp)
      assert(compacted.k == 6 && compacted.shrink == 16 && compacted.topCap == 256L,
        s"compaction lost the build parameters: $compacted")
      assertStackEq(compacted.layers, afterDel, "compacted vs live")
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "reload after compact")
      val dirNames = new java.io.File(tmp).listFiles().map(_.getName).toSet
      assert(!dirNames.exists(_.startsWith("epoch_")),
        s"compaction left epoch dirs behind: $dirNames")
      // publishing an epoch at/below the watermark must fail LOUDLY —
      // loadLog would silently skip it forever (acknowledged data loss
      // for a writer whose ids restarted against a compacted/rebased log)
      val eWm = intercept[IllegalArgumentException](Hnsw.saveDelta(dIns, 0L, tmp))
      assert(eWm.getMessage.contains("watermark"), s"wrong failure: ${eWm.getMessage}")
      // crash-safety of compact: a stale epoch dir AT OR BELOW the
      // watermark (a compact that died between base publish and dir
      // cleanup) must be skipped, not double-applied — epoch 0 is the
      // INSERT delta, whose double-apply would duplicate 5 nodes. The
      // remnant is planted by publishing above the watermark and
      // renaming the dir down (saveDelta itself refuses stale ids).
      Hnsw.saveDelta(dIns, 5L, tmp)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f"$tmp/epoch_${5L}%012d"),
        java.nio.file.Paths.get(f"$tmp/epoch_${0L}%012d"))
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "stale epoch ignored")
      // and the next compact clears the stale dir without reapplying it
      assertStackEq(Hnsw.compact(spark, tmp).layers, afterDel, "compact over stale dir")
      assert(!new java.io.File(tmp).listFiles().map(_.getName).exists(_.startsWith("epoch_")),
        "second compact did not clear the stale epoch dir")
      // a compact that died BEFORE its atomic meta publish leaves a
      // half-written new-version dir ABOVE the live one: unreferenced
      // debris — loads ignore it, and the sweep deliberately does NOT
      // delete above-live dirs (they could be a concurrent compactor's
      // in-flight output — the round-17 advisor's clobber finding); the
      // dir is harmlessly overwritten when its number comes up. Dirs
      // BELOW the live version (superseded bases) are swept.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/v99"))
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "debris version ignored")
      Hnsw.compact(spark, tmp)
      assert(new java.io.File(tmp).listFiles().map(_.getName).contains("v99"),
        "compact must not clobber an above-live version dir (possible in-flight compactor)")
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, afterDel, "load unaffected by kept debris")
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/v99"))
      // an epoch whose layer count differs from the base (a deepen without
      // an intervening compact/re-save) must fail loudly, never truncate
      Hnsw.saveDelta(dIns ++ dIns.take(1), 10L, tmp)
      val e = intercept[IllegalArgumentException](Hnsw.loadLog(spark, tmp))
      assert(e.getMessage.contains("deepened"), s"wrong failure: ${e.getMessage}")
    } finally {
      layers.foreach(_.graph.unpersist())
      graft.rel.PipelineQueries.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("writer fence: a zombie's saveDelta fails loudly after a newer writer re-bases; re-save sweeps the log") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_spec_fence_").toString
    try {
      Hnsw.save(layers, 6, tmp)
      val st = Hnsw.loadStack(spark, tmp)
      assert(st.version == 0L && st.writerToken == 0L, s"fresh save: $st")
      val batch = emb.filter(col("vec_id") < 3)
        .select(
          (col("vec_id") + 910000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
      val (_, d) = Hnsw.insertWithDelta(layers, batch, k = 6, beam = 16, rounds = 6)
      // a fenced publish under the live token lands
      Hnsw.saveDelta(d, 0L, tmp, st.writerToken)
      // a newer incarnation compacts: version and fence token advance
      val compacted = Hnsw.compact(spark, tmp)
      assert(compacted.version == st.version + 1, s"compact must advance the version: $compacted")
      assert(compacted.writerToken == st.writerToken + 1, s"compact must bump the fence: $compacted")
      // the zombie (old token) is fenced at its NEXT publish — loudly
      val e = intercept[IllegalArgumentException](
        Hnsw.saveDelta(d, 1L, tmp, st.writerToken))
      assert(e.getMessage.contains("stale writer"), s"wrong failure: ${e.getMessage}")
      assert(!new java.io.File(tmp).listFiles().map(_.getName).contains("epoch_000000000001"),
        "the fenced epoch must not have been published")
      // re-save (the out-of-band-maintenance REBASE): bumps the fence
      // again and sweeps pending epochs + the superseded version — a
      // fresh base already contains all state, so a leftover epoch
      // would double-apply on the next loadLog. The rebasing writer
      // must hold a MATERIALIZED stack (compact's documented caveat:
      // lazy layers reference the about-to-be-swept version's files)
      val snapshot = compacted.layers.map(l =>
        Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))
      Hnsw.saveDelta(d, 2L, tmp, compacted.writerToken) // a pending epoch to sweep
      // debris ABOVE the version the rebase will publish: save's sweep,
      // like compact's, must never clobber an above-live dir (it could
      // be a concurrent compactor's in-flight output)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/v99"))
      Hnsw.save(snapshot, 6, tmp)
      val rebased = Hnsw.loadStack(spark, tmp)
      assert(rebased.writerToken == compacted.writerToken + 1, s"re-save must bump the fence: $rebased")
      // the rebase stamps the watermark AT the highest epoch it swept
      // (epoch 2 here), compact's pattern: a crash between the meta
      // publish and the sweep then leaves only stale-and-skipped epochs,
      // never a double-apply onto a base that already contains them
      assert(rebased.compactedThrough == 2L,
        s"re-save must stamp the watermark at the swept epochs: $rebased")
      val names = new java.io.File(tmp).listFiles().map(_.getName).toSet
      assert(!names.exists(_.startsWith("epoch_")), s"re-save left pending epochs: $names")
      assert(names.contains("v99"),
        s"re-save clobbered an above-live version dir (possible in-flight compactor): $names")
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/v99"))
      // generation-lagged sweep (round 21): the mutation operators return
      // LAZY layer plans over the loaded base's files, so save keeps
      // exactly the immediately superseded version for still-live
      // readers and deletes everything older
      val keptVers = names
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit) && n != "v99")
        .map(_.drop(1).toLong)
      assert(
        keptVers.max == rebased.version && keptVers.forall(_ >= rebased.version - 1),
        s"re-save must sweep all versions older than the immediately superseded one: $names")
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, snapshot, "rebased log replays the rebased base")
      // the crash window the watermark exists for: an epoch dir left
      // at/below it (the sweep died after the meta publish) must be
      // SKIPPED by the next loadLog, not folded onto the fresh base —
      // planted via publish-above-and-rename-down (saveDelta itself
      // refuses at/below-watermark ids loudly)
      Hnsw.saveDelta(d, 7L, tmp, rebased.writerToken)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f"$tmp/epoch_${7L}%012d"),
        java.nio.file.Paths.get(f"$tmp/epoch_${2L}%012d"))
      assertStackEq(Hnsw.loadLog(spark, tmp).layers, snapshot,
        "rebase watermark skips a leftover at-watermark epoch")
      // the compact-era incarnation is in turn fenced off the rebased log
      intercept[IllegalArgumentException](
        Hnsw.saveDelta(d, 2L, tmp, compacted.writerToken))
    } finally {
      layers.foreach(_.graph.unpersist())
      graft.rel.PipelineQueries.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("composeDeltas: one composed epoch replays exactly like applying the two deltas in sequence") {
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
    // the CDC trigger shape (hnswApplyChangelog): delete present keys,
    // then insert the upserts — including key 920000003, which is
    // inserted first so the second round can DELETE-and-REINSERT it (the
    // upsert-of-present composition the algebra must get right)
    val mk = (off: Long, bump: Float) => emb.filter(col("vec_id") < 4)
      .select(
        (col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => x + lit(bump)).as("embedding"))
    val (withKeys, _) = Hnsw.insertWithDelta(layers, mk(920000000L, 0.001f), k = 6, beam = 16, rounds = 6)
    // round under test: delete {corpus 0, planted 920000000..3}, then
    // insert {planted 920000002 re-keyed... the re-upserts of 2 deleted
    // planted keys with NEW vectors + 2 fresh keys}
    val delIds = Seq(0L, 920000000L, 920000001L, 920000002L, 920000003L).toDF("vec_id")
    val (afterDel, dDel) = Hnsw.deleteWithDelta(withKeys, delIds, k = 6)
    val reinserts = mk(920000002L, 0.002f) // keys 920000002..5: two re-upserts, two fresh
    val (afterIns, dIns) = Hnsw.insertWithDelta(afterDel, reinserts, k = 6, beam = 16, rounds = 6)
    val composed = Hnsw.composeDeltas(dDel, dIns)
    val folded = withKeys.zip(composed).map { case (l, dd) => Hnsw.applyDelta(l, dd) }
    assertStackEq(folded, afterIns, "composed replay vs sequential mutations")
    // and the reverse order (insert then delete) composes too
    val (a1, d1) = Hnsw.insertWithDelta(layers, mk(930000000L, 0.001f), k = 6, beam = 16, rounds = 6)
    val (a2, d2) = Hnsw.deleteWithDelta(a1, Seq(930000001L, 1L).toDF("vec_id"), k = 6)
    val folded2 = layers.zip(Hnsw.composeDeltas(d1, d2)).map { case (l, dd) => Hnsw.applyDelta(l, dd) }
    assertStackEq(folded2, a2, "insert-then-delete composition")
    layers.foreach(_.graph.unpersist())
  }

  test("a legacy (pre-delta-log) artifact fails with a clear migration message; save migrates it in place") {
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_spec_legacy_").toString
    try {
      // the pre-round-17 layout persisted meta as a parquet DIRECTORY
      spark.range(1).write.parquet(s"$tmp/meta")
      val e = intercept[IllegalStateException](Hnsw.loadStack(spark, tmp))
      assert(e.getMessage.contains("legacy"), s"wrong failure: ${e.getMessage}")
      // re-persisting through save() IS the migration: the directory
      // meta is replaced by the meta file and the artifact loads again
      val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
        .map(l => Hnsw.Layer(l.nodes, l.graph.cache()))
      Hnsw.save(layers, 6, tmp)
      assertStackEq(Hnsw.loadStack(spark, tmp).layers, layers, "migrated artifact")
      layers.foreach(_.graph.unpersist())
    } finally
      graft.rel.PipelineQueries.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("composeDeltas algebra holds on randomized deltas, including re-adds, edgeless repairs, and empty components") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(42)
    def idsDf(ids: Seq[Long], name: String): DataFrame =
      if (name == "vec_id") ids.map(i => (i, Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
      else ids.map(Tuple1(_)).toDF(name)
    def keysDf(ids: Seq[Long]): DataFrame = ids.map(Tuple1(_)).toDF("vec_id")
    def edges(srcs: Seq[Long], univ: Seq[Long]): DataFrame =
      srcs.flatMap { s0 =>
        Seq.fill(1 + rnd.nextInt(2))((s0, univ(rnd.nextInt(univ.length)), 1 + rnd.nextInt(3), rnd.nextDouble().toFloat))
      }.toDF("src", "dst", "rnk", "dist2")
    (1 to 5).foreach { trial =>
      val baseIds = (0L until 20L).filter(_ => rnd.nextDouble() < 0.8)
      val base = Hnsw.Layer(idsDf(baseIds, "vec_id"), edges(baseIds, 0L until 20L))
      // delta A: remove a base subset, add fresh ids; arbitrary upserts
      // and src removals over the union
      val remA = baseIds.filter(_ => rnd.nextDouble() < 0.3)
      val addA = (100L until 108L).filter(_ => rnd.nextDouble() < 0.6)
      val liveA = baseIds.diff(remA) ++ addA
      val a = Hnsw.LayerDelta(
        idsDf(addA, "vec_id"), keysDf(remA),
        edges(liveA.filter(_ => rnd.nextDouble() < 0.4), liveA),
        idsDf(remA ++ liveA.filter(_ => rnd.nextDouble() < 0.2), "src"))
      // delta B: removes from A's result INCLUDING some of A's adds, and
      // RE-ADDS some ids A removed (the upsert-of-erased composition)
      val remB = liveA.filter(_ => rnd.nextDouble() < 0.3)
      val addB = (200L until 205L).filter(_ => rnd.nextDouble() < 0.6) ++
        remA.filter(_ => rnd.nextDouble() < 0.5)
      val liveB = liveA.diff(remB) ++ addB
      val b = Hnsw.LayerDelta(
        idsDf(addB, "vec_id"), keysDf(remB),
        edges(liveB.filter(_ => rnd.nextDouble() < 0.4), liveB),
        idsDf(liveB.filter(_ => rnd.nextDouble() < 0.2), "src"))
      val seq2 = Hnsw.applyDelta(Hnsw.applyDelta(base, a), b)
      val one = Hnsw.applyDelta(base, Hnsw.composeDeltas(Seq(a), Seq(b)).head)
      val nDiff = seq2.nodes.select("vec_id").exceptAll(one.nodes.select("vec_id"))
        .unionAll(one.nodes.select("vec_id").exceptAll(seq2.nodes.select("vec_id"))).count()
      assert(nDiff == 0, s"trial $trial: node multisets diverge (diff $nDiff)")
      val gl = seq2.graph.select("src", "dst", "rnk")
      val gr = one.graph.select("src", "dst", "rnk")
      val gDiff = gl.exceptAll(gr).unionAll(gr.exceptAll(gl)).count()
      assert(gDiff == 0, s"trial $trial: edge multisets diverge (diff $gDiff)")
    }
  }

  test("a write costs the batch: deleteWithDelta runs no shuffle, both writes stay within their job budgets") {
    // Budgets are the counts the driver repair kernel runs on this fixture
    // (they repeat run to run). Delete gathers the hole edges, the touched
    // survivors' edges and embeddings, and their neighbours' embeddings:
    // three shuffle-free jobs for any stack depth. Insert adds the batch-id
    // collect, the presence scan, the attach gather and the repair gather
    // to its walks. The per-layer join repair ran 83 and 126 jobs here, and
    // its delete shuffled 17,666 bytes.
    val layers = Hnsw.build(emb, k = 6, shrink = 16, topCap = 256L)
      .map(l => Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))
    val batch = emb.filter(col("vec_id") < 5)
      .select(
        (col("vec_id") + 940000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
    val ((afterIns, dIns), insertJobs, _) =
      costOf(Hnsw.insertWithDelta(layers, batch, k = 6, beam = 16, rounds = 6))
    val delIds = Seq(0L, 1L, 940000002L, 123456789L).toDF("vec_id")
    val ((afterDel, dDel), deleteJobs, deleteBytes) = costOf(Hnsw.deleteWithDelta(afterIns, delIds, k = 6))
    info(s"insertWithDelta: $insertJobs jobs; deleteWithDelta: $deleteJobs jobs, $deleteBytes shuffle bytes")
    assert(dIns.last.nodesAdded.count() == 5L && dDel.last.nodesRemoved.count() == 4L)
    assert(afterDel.last.nodes.count() == emb.count() + 2L)
    assert(deleteBytes == 0L, s"deleteWithDelta shuffled $deleteBytes bytes")
    assert(deleteJobs <= 3, s"deleteWithDelta ran $deleteJobs jobs")
    assert(insertJobs <= 71, s"insertWithDelta ran $insertJobs jobs")
  }

  private def l2(a: Array[Float], b: Array[Float]): Double =
    a.indices.map { i => val d = a(i).toDouble - b(i); d * d }.sum

  /** Ascending (dist2, dst), duplicates kept, the first `k`, ranked. */
  private def nearest(src: Long, cands: Seq[(Long, Double)], k: Int): Seq[(Long, Long, Int, Double)] =
    cands.sortBy { case (d, x) => (x, d) }.take(k).zipWithIndex.map { case ((d, x), i) => (src, d, i + 1, x) }

  private def edgeRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select("src", "dst", "rnk", "dist2").as[(Long, Long, Int, Double)].collect().toSeq.sorted

  private def idRows(df: org.apache.spark.sql.DataFrame): Seq[Long] = df.as[Long].collect().toSeq.sorted

  /** A 2-layer toy stack (top first) whose layers the walks cover
    * exhaustively: layer 0 is {1..8} in two components, with an edge to a
    * missing node 99; the top is {1, 2, 3, 7}. Stored distances are exact
    * (binary fractions), except the 5 → 99 edge's, which has no embedding
    * to score. */
  private lazy val toy: (Seq[Hnsw.Layer], Map[Long, Array[Float]]) = {
    val v = Map(
      1L -> Array(0f, 0f), 2L -> Array(2f, 0f), 3L -> Array(1f, 0f), 4L -> Array(2f, 1f),
      5L -> Array(2f, -1f), 6L -> Array(10f, 10f), 7L -> Array(4f, 0f), 8L -> Array(11f, 10f))
    def layer(ids: Seq[Long], edges: Seq[(Long, Long)]) = {
      val ranked = edges.groupBy(_._1).toSeq.flatMap { case (s, es) =>
        es.map { case (_, d) => (d, v.get(d).map(l2(v(s), _)).getOrElse(0.5)) }
          .sortBy(_.swap).zipWithIndex.map { case ((d, x), i) => (s, d, i + 1, x) }
      }
      Hnsw.Layer(ids.map(i => (i, v(i).toSeq)).toDF("vec_id", "embedding"), ranked.toDF("src", "dst", "rnk", "dist2"))
    }
    (Seq(
      layer(Seq(1L, 2L, 3L, 7L), Seq(1L -> 3L, 1L -> 2L, 2L -> 3L, 2L -> 7L, 3L -> 1L, 3L -> 2L, 7L -> 2L, 7L -> 3L)),
      layer(1L to 8L, Seq(1L -> 2L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 2L, 3L -> 7L, 4L -> 2L, 4L -> 5L,
        5L -> 2L, 5L -> 99L, 6L -> 8L, 7L -> 3L, 7L -> 4L, 8L -> 6L))),
      v)
  }

  test("driver repair kernel equals a pure-Scala replay of the repair rule on a toy stack") {
    val (layers, v) = toy
    val k = 2
    val graphs = layers.map(_.graph.select("src", "dst", "rnk", "dist2").as[(Long, Long, Int, Double)].collect().toSeq)
    val members = layers.map(_.nodes.select("vec_id").as[Long].collect().toSet)

    // delete: 2 leaves both layers, 6 only layer 0, 77 is unknown
    val gone = Set(2L, 6L, 77L)
    val (_, dDel) = Hnsw.deleteWithDelta(layers, gone.toSeq.toDF("vec_id"), k)
    layers.indices.foreach { l =>
      val g = graphs(l).map(e => (e._1, e._2))
      val nbr = g.collect {
        case (s, d) if gone(s) && !gone(d) => (s, d)
        case (s, d) if !gone(s) && gone(d) => (d, s)
      }
      val touched = nbr.map(_._2).toSet
      val clique = nbr.groupBy(_._1).values.flatMap(ps => for (a <- ps; b <- ps) yield (a._2, b._2))
      val cands = (g.filter(e => touched(e._1) && !gone(e._2)) ++ clique).filter(e => e._1 != e._2).distinct
      val emb = v.filter { case (id, _) => members(l)(id) && !gone(id) }
      val want = touched.toSeq.flatMap { t =>
        nearest(t, cands.filter(_._1 == t).collect { case (_, d) if emb.contains(d) && emb.contains(t) => (d, l2(emb(t), emb(d))) }, k)
      }.sorted
      assert(edgeRows(dDel(l).graphUpserts) == want, s"delete layer $l upserts")
      assert(idRows(dDel(l).srcsRemoved) == (gone ++ touched).toSeq.sorted, s"delete layer $l srcsRemoved")
      assert(idRows(dDel(l).nodesRemoved) == gone.toSeq.sorted)
    }
    // the crafted cases hold the properties they were built for: 1's repair
    // ties 4 and 5 at 5.0 for its last slot and keeps the lower id; 5's
    // edge to the missing 99 drops; 8, whose only neighbour was 6, is
    // removed with no upsert
    val l0 = edgeRows(dDel(1).graphUpserts)
    assert(l0.filter(_._1 == 1L) == Seq((1L, 3L, 1, 1.0), (1L, 4L, 2, 5.0)))
    assert(l0.filter(_._1 == 5L).map(_._2) == Seq(3L, 4L))
    assert(!l0.exists(_._1 == 8L) && idRows(dDel(1).srcsRemoved).contains(8L))

    // insert: one batch row joins the top layer (shrink 2), one only layer 0
    val byHash = spark.range(1000L, 1100L).select(col("id"), pmod(xxhash64(col("id")), lit(2L)).as("m"))
      .as[(Long, Long)].collect()
    val (top, low) = (byHash.find(_._2 == 0L).get._1, byHash.find(_._2 != 0L).get._1)
    val batch = Seq(top -> Array(2f, -0.75f), low -> Array(0.25f, 0.25f))
    val (_, dIns) = Hnsw.insertWithDelta(
      layers, batch.map { case (i, e) => (i, e.toSeq) }.toDF("vec_id", "embedding"), k, beam = 16, rounds = 6, shrink = 2)
    layers.indices.foreach { l =>
      val joiners = if (l == 0) batch.take(1) else batch
      // the walk covers the toy layer, so a joiner's attach edges are its
      // exact nearest k members
      val newOut = joiners.flatMap { case (j, e) =>
        nearest(j, members(l).toSeq.map(x => (x, l2(e, v(x)))), k)
      }
      val touched = newOut.map(_._2).toSet
      val repaired = touched.toSeq.flatMap { t =>
        nearest(t, graphs(l).collect { case (`t`, d, _, x) => (d, x) } ++
          newOut.collect { case (j, `t`, _, x) => (j, x) }, k)
      }
      assert(edgeRows(dIns(l).graphUpserts) == (repaired ++ newOut).sorted, s"insert layer $l upserts")
      assert(idRows(dIns(l).srcsRemoved).isEmpty)
      assert(idRows(dIns(l).nodesAdded.select("vec_id")) == joiners.map(_._1).sorted)
    }
    assert(edgeRows(dIns(0).graphUpserts).exists(_._1 == top), "the top-level batch row did not attach at the top")
    // 5 keeps its stored edge to the missing 99 (insert does not re-score)
    assert(edgeRows(dIns(1).graphUpserts).filter(_._1 == 5L).sortBy(_._3).map(_._2) == Seq(top, 99L))
  }

  test("delete past the driver budget fails loudly, naming the batch and the bound") {
    val saved = graft.vector.KMeans.localFitThreshold
    graft.vector.KMeans.localFitThreshold = 8L
    try {
      val e = intercept[IllegalArgumentException](
        Hnsw.deleteWithDelta(toy._1, Seq(2L, 6L).toDF("vec_id"), k = 2))
      assert(e.getMessage.contains("2-id batch") && e.getMessage.contains("budget of 8 floats"), e.getMessage)
    } finally graft.vector.KMeans.localFitThreshold = saved
  }
}
