package graft

import graft.index.{IvfBuild, IvfMutate, IvfSearch}
import org.apache.spark.sql.functions._

/** Physical-plan audits for the properties the 100 TB story depends on —
  * the plan SHAPE is the contract here, not the result values (those have
  * oracles elsewhere): filters/projections must reach the Parquet scan,
  * metadata sides must broadcast, and per-query top-k must be the
  * partial-aggregating heap, not an every-row window shuffle. */
class PlanAuditSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("filter and projection are pushed into the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(l_quantity"),
      s"filter not pushed to scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"column pruning failed — scan reads more than the projection: $readSchema")
  }

  test("APS probe scoring broadcasts the partition-metadata side") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfBuild.build(emb, 64)
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = IvfSearch
      .chooseProbes(model, queries, IvfSearch.Params())
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"partition metadata is not broadcast — a shuffle join on metadata would serialize the probe path:\n$plan")
  }

  test("IVF gather join broadcasts the probe set — the vectors table never shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfBuild.build(emb, 64)
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = IvfSearch
      .search(model, queries, IvfSearch.Params(k = 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"gather join is not broadcast — the corpus side would shuffle per query batch:\n$plan")
  }

  test("per-query top-k runs as the bounded-heap aggregator, not a window") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = IvfSearch.exactTopK(emb, queries, 5).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"top-k is not the typed aggregator (no map-side partial selection):\n$plan")
    assert(!plan.contains("Window"),
      s"top-k fell back to a window — every candidate row would shuffle:\n$plan")
  }

  test("IVF writes return a batch-sized plan — insert and delete vectors carry no shuffle and no aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfBuild.build(emb, 64)
    val inserted = IvfMutate.insert(model, Seq((900000L, Seq.fill(64)(0.1f))).toDF("vec_id", "embedding"))
    val deleted = IvfMutate.delete(model, Seq(3L, 4L).toDF("vec_id"))
    // The caller's checkpoint and mirror refresh consume these plans: a
    // shuffle or an aggregate here re-derives the routing or the stats per
    // consumer. Broadcasts of the batch-sized side are expected.
    Seq("insert" -> inserted.vectors, "delete" -> deleted.vectors).foreach { case (op, vectors) =>
      vectors.collect()
      val aggs = vectors.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      assert(aggs.isEmpty, s"$op's vectors plan aggregates:\n${vectors.queryExecution.optimizedPlan}")
      assert(countShuffles(vectors) == 0, s"$op's vectors plan shuffles:\n${vectors.queryExecution.executedPlan}")
    }
  }

  test("hot-shingle guard is a broadcast anti-join on the hot set, not a shuffle rejoin") {
    import graft.text.Dedup
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, "blk", (1 to 40).map(j => s"tok${(i + j) % 23}").mkString(" ")))
      .toDF("doc_id", "blk", "text")
    try {
      val plan = Dedup.sparseJaccardPairs(docs, "blk", 3, minJaccard = 0.05, maxDocFreq = 10L)
        .queryExecution.executedPlan.toString
      // the df cutoff must apply as LeftAnti against the (tiny, broadcast)
      // hot-key set — round 4 shipped it as an inner join on the near-total
      // SURVIVING key set, an extra full shuffle of the shingle table (3×
      // regression at fixture scale, unbounded at corpus scale)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"df guard is not a broadcast anti-join:\n$plan")
    } finally graft.CacheScope.clear()
  }

  test("decontamination broadcasts the benchmark shingles — the corpus side never shuffles to join") {
    import graft.text.Dedup
    import spark.implicits._
    val bench = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val train = (10L to 40L).map(i => (i, (1 to 20).map(j => s"w${(i + j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.contaminatedDocs(train, bench, 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side is not broadcast — the corpus shingles would shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"decontamination fell back to a sort-merge join:\n$plan")
  }

  test("IVFADC scan broadcasts the probe set — the codes table never shuffles") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfBuild.build(emb, 64)
    val cents = model.partitions.map(p => p.pid -> p.centroid).toMap
    val pq = graft.vector.Pq.trainResiduals(model.vectors, cents, 64, m = 8, k = 4, iters = 2, seed = 7L)
    val codes = graft.vector.Pq.encodeResiduals(model.vectors, pq, cents)
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probes = IvfSearch.chooseProbes(model, queries, IvfSearch.Params(k = 5))
      .select("query_id", "partition_id")
    val plan = graft.vector.Pq.ivfAdcResidualTopK(codes, pq, cents, probes, queries, k = 5)
      .queryExecution.executedPlan.toString
    // same contract as the float gather join: at 100 TB the codes table is
    // the big side and must be joined in place
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set is not broadcast against the codes table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"codes table shuffles to meet the probe set:\n$plan")
  }

  test("exact re-rank broadcasts the bounded candidate set against the float vectors") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val cands = Seq((1L, 5L), (1L, 6L), (2L, 7L)).toDF("query_id", "vec_id")
    val queries = emb.limit(2).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = graft.vector.Pq.rerankExact(cands, emb, queries, k = 2)
      .queryExecution.executedPlan.toString
    // |Q|·rerankN rows vs the corpus: the corpus must stay in place
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate set is not broadcast — the vectors table would shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"re-rank gather fell back to a sort-merge join:\n$plan")
  }

  test("LSH band joins ship narrow keys — wide columns rejoin after pair dedup") {
    import graft.text.Dedup
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, (1 to 40).map(j => s"tok${(i + j) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.minhashLsh(docs, 3, 16, 4, 0.0).queryExecution.optimizedPlan.toString
    // the distinct() must see only (doc_a, doc_b) — the 16-long signatures
    // attach after dedup, so they never ride the pair shuffle
    val aggLines = plan.linesIterator.filter(_.contains("Aggregate [")).toSeq
    assert(aggLines.nonEmpty, s"no pair dedup found:\n$plan")
    assert(aggLines.exists(l => l.contains("doc_a") && l.contains("doc_b") && !l.contains("sig")),
      s"pair dedup carries signature arrays through the shuffle:\n$plan")
  }

  test("binary Hamming scan broadcasts the query codes — the corpus code table never shuffles") {
    import graft.vector.BinaryQuant
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val df = BinaryQuant.topK(emb, queries, dim = 64, k = 5, rerank = 4)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"query codes are not broadcast over the corpus scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"Hamming candidate scan fell back to a sort-merge join:\n$plan")
  }

  test("quantileBins: the data pays one histogram aggregate; assignment is a broadcast rejoin") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, i % 37)).toDF("id", "v")
    val out = graft.rel.Sampling.quantileBins(df, "v", 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"boundary array is not broadcast back to the data:\n$plan")
    // the only windows allowed are over the HISTOGRAM (metadata), which
    // appears as a single-partition exchange — the data side itself must
    // not be globally sorted (no ntile over the full input)
    assert(!plan.contains("ntile"), s"assignment regressed to a global ntile:\n$plan")
  }

  test("bigram LM pairing is row-local — no posexplode+window shuffle before the count aggregate") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, (1 to 30).map(j => s"w${(i + j) % 19}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.text.LangModel.bigramNll(docs)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"bigram pairing regressed to a window over exploded positions:\n$plan")
    graft.CacheScope.clear()
  }

  test("char entropy is two codegen aggregations — no HOF lambda work, no window") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"some text ${"ab" * (i % 7).toInt}")).toDF("doc_id", "text")
    val cs = filter(split(lower(col("text")), ""), c => length(c) > 0)
    val scored = docs
      .select(col("doc_id"), explode(cs).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("slc"))
    scored.collect()
    // (doc, char) → doc re-aggregation: at most the two grouping shuffles,
    // and the per-element work is codegen'd aggregate arithmetic — the
    // row-local alphabet-fold variant cost 10.4 s at sf0.1
    assert(countShuffles(scored) <= 2,
      s"entropy plan shuffles more than its two aggregations:\n${scored.queryExecution.executedPlan}")
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), s"entropy regressed to a window:\n$plan")
  }

  test("line dedup: aligned chunking costs ≤ 3 shuffles (line agg, rejoin, doc reassembly)") {
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
      (i, (1 to 24).map(j => s"w${(i * 5 + j) % 29}").mkString(" "))).toDF("doc_id", "text")
    val out = graft.text.LineDedup.dropBoilerplateLines(docs, lineTokens = 4, minDocs = 2)
    out.collect()
    assert(countShuffles(out) <= 3,
      s"line dedup shuffles more than line-agg + rejoin + reassembly:\n${out.queryExecution.executedPlan}")
  }

  test("JL candidate top-k is the bounded-heap aggregator, not a window over all pairs") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i =>
      (i, (0 until 16).map(d => ((i * 16 + d) % 13).toFloat / 13f))).toDF("vec_id", "embedding")
    val queries = (0L until 2L).map(i =>
      (i, (0 until 16).map(d => ((i * 16 + d) % 13).toFloat / 13f))).toDF("query_id", "qvec")
    val out = graft.vector.RandomProjection.topK(corpus, queries, dIn = 16, m = 4, k = 5, cand = 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"JL candidate selection lost the map-side partial heap:\n$plan")
    assert(!plan.contains("WindowExec"),
      s"JL candidate selection regressed to a window — every pair row would shuffle:\n$plan")
  }

  test("interval union coverage: ONE key shuffle serves both window passes and both aggregations") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (s"u${i % 7}", i, i * 10, i * 10 + 25)).toDF("k", "id", "s", "e")
    val out = graft.rel.Intervals.coverage(df, "k", "s", "e", "id")
    out.collect()
    // windows partition by k; groupBy(k, island) and groupBy(k) are both
    // satisfied by hashpartitioning(k) — anything > 1 means a window or
    // agg re-shuffled data that is already clustered by key
    assert(countShuffles(out) <= 1,
      s"interval union re-shuffles key-clustered data:\n${out.queryExecution.executedPlan}")
    assert(!out.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "interval union must never fall back to a self-join")
  }

  test("knn graph exact path broadcasts the node set — the corpus never shuffles for distances") {
    import spark.implicits._
    val emb = (0L until 80L).map(i =>
      (i, (0 until 8).map(d => ((i * 8 + d) % 11).toFloat / 11f))).toDF("vec_id", "embedding")
    val out = graft.index.KnnJoin.knnGraph(emb, k = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"node set is not broadcast — the corpus would shuffle per node batch:\n$plan")
    // the heap agg pays one query_id shuffle; the re-rank window rides it
    assert(countShuffles(out) <= 2,
      s"knn graph shuffles beyond the top-k aggregation:\n$plan")
  }

  test("pagerank superstep loop carries no broadcast hint — the degree table is data-sized") {
    import spark.implicits._
    val nodes = (0L to 19L).toDF("node")
    val edges = (0L to 19L)
      .flatMap(n => Seq(1L, 2L, 3L).map(i => (n, (n * 7 + i * 13) % 20)))
      .toDF("src", "dst")
    val out = graft.rel.PageRank.run(nodes, edges, iters = 2, unit = 1000000000000L)
    // the pin is on the LOGICAL hint, not the physical operator: at
    // fixture scale Catalyst/AQE may still broadcast from MEASURED sizes
    // (correct — stats-driven), but an unconditional hint would force the
    // |V|-sized degree table through the driver at any scale (round-12
    // weak flag: an OOM at billion-node graphs, not a slowdown)
    val opt = out.queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"),
      s"a superstep join forces broadcast of a data-sized relation:\n$opt")
  }

  test("iterative operators reference their state once per round — truncated spans stay linear") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // a step that references its state twice doubles the plan per round:
    // the span between two truncations would be a 2^r-leaf tree
    def stateRefs(step: (DataFrame, Int) => DataFrame, state: DataFrame): Int = {
      val cp = state.localCheckpoint()
      val leaf = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      step(cp, 0).queryExecution.analyzed.collect { case l: LogicalRDD if l.rdd eq leaf => l }.size
    }
    val nodes = (0L to 9L).toDF("node")
    val edges = (0L to 9L)
      .flatMap(n => Seq(1L, 2L).map(i => (n, (n * 3 + i * 7) % 10)))
      .toDF("src", "dst")
    val vecs = (0L to 9L).map(n => (n, Array(n.toFloat, 1f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(2f, 1f))).toDF("query_id", "qvec")
    CacheScope.scoped {
      val steps = Seq(
        "Bfs" -> stateRefs(
          graft.rel.Bfs.step(nodes, edges),
          Seq((0L, Option(0)), (1L, Option.empty[Int])).toDF("node", "dist")),
        "KCore" -> stateRefs(
          graft.rel.KCore.step(graft.rel.KCore.halfEdges(edges), 2),
          nodes),
        "LabelProp" -> stateRefs(
          graft.rel.LabelProp.step(nodes, Seq((0L, 1L)).toDF("node", "label"), edges),
          Seq((0L, Option(1L)), (1L, Option.empty[Long])).toDF("node", "label")),
        "PageRank (run and personalized)" -> stateRefs(
          graft.rel.PageRank.step(nodes.withColumn("base", lit(150L)), edges),
          nodes.withColumn("r", lit(1000L))),
        "GraphSearch" -> stateRefs(
          graft.index.GraphSearch.step(queries, edges, vecs, beam = 4),
          Seq((0L, 0L, 4f)).toDF("query_id", "vec_id", "dist2")))
      steps.foreach { case (op, n) =>
        assert(n == 1, s"$op's step references its state $n times per round")
      }
    }
  }

  test("knn graph ivf path: no nodes×nodes crossJoin — candidates come only from probed cells") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfBuild.build(emb, 64)
    // Stats-driven broadcasts OFF for the audit: what's left broadcasting
    // can only come from an explicit hint — exactly what the pin is about.
    // (At default settings AQE measures the materialized probe side and
    // may legitimately convert the gather join back to a runtime
    // broadcast at fixture scale; that is stats-driven and correct.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.index.KnnJoin.knnGraph(emb, k = 3, Some(model))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      // the round-12 weak flag: the registered graph build must gather
      // candidates through the probed partition_id EQUALITY join, never a
      // quadratic self-join (v31's exact twin keeps that shape
      // deliberately, on a FIXED node sample). The only nested-loop join
      // allowed in this plan is query×CENTROID scoring — metadata-sized by
      // construction (√n centroids), already pinned by the APS audit above.
      assert(!plan.contains("CartesianProduct"),
        s"ivf knn graph fell back to a cartesian self-join:\n$plan")
      // the round-14 weak flag: the graph build feeds the ENTIRE node set
      // back as the query batch, so its |nodes|·nprobe probe side (each
      // row carrying a d-float qvec) is DATA-sized — a forced broadcast of
      // it is rebuilt per executor and dies at 100× corpus. With hints as
      // the only broadcast source (threshold -1 above), the gather join
      // must be a SHUFFLE join on partition_id: any BroadcastHashJoin on
      // that key here means a nodes-derived relation carries a broadcast
      // hint again.
      assert(!plan.contains("BroadcastHashJoin [partition_id"),
        s"ivf knn graph broadcasts its corpus-sized probe side:\n$plan")
      assert(
        plan.contains("SortMergeJoin [partition_id") ||
          plan.contains("ShuffledHashJoin [partition_id"),
        s"ivf knn graph lost the probed partition_id gather join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevA match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("exactStratifiedSplit: quota intervals broadcast — the data pays only the ranking shuffle") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"s${i % 5}")).toDF("id", "src")
    val out = graft.rel.Sampling
      .exactStratifiedSplit(df, "src", "id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"quota-interval join is not broadcast — the data side would shuffle against metadata:\n$plan")
  }
}
