package graft.rel

import graft.{NamedQuery, Tables}
import graft.index.{IvfBuild, IvfModel, IvfSearch}
import graft.multimodal.MultimodalOps
import graft.text.{Bm25, Cms, Dedup, LangModel, LineDedup, TextOps, TfIdf}
import graft.vector.{BinaryQuant, Pq, RandomProjection, Sq, VectorSums}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [engine-added] Vector-search, dedup, text-analysis and multimodal
  * queries over the `embeddings`/`documents` fixtures — the LLM-pipeline
  * operator inventory (SURVEY.md §2.B) exposed through the driver contract.
  *
  * Determinism notes:
  *  - every float output that crosses the DuckDB hash-compare is forced
  *    through float32 (`cast("float").cast("double")`) before rounding, and
  *    the oracle SQL applies the identical `CAST(… AS REAL)` squeeze — a
  *    1e-15 summation-order wobble cannot survive a float32 quantization,
  *    so both engines round the same value;
  *  - dedup queries PLANT deterministic duplicates derived from the fixture
  *    (the synthetic corpus has none) so the operators demonstrably fire;
  *  - MinHash/SimHash/LSH queries hash with seeded `xxhash64`, which DuckDB
  *    does not implement → registered without oracle (rows-only check),
  *    with ScalaTest oracles covering their semantics instead.
  */
object PipelineQueries {
  import Tables.t

  /** One shared IVF index per fixture dir per JVM — Verify/Bench run many
    * queries in one session; rebuilding the index per query would be waste. */
  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, IvfModel]

  /** Memory-sink names must be unique per streaming run within a JVM. */
  private val streamSinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Best-effort deepest-first delete of a staged temp directory (saved
    * indexes, file-source staging, streaming checkpoints) — repeated
    * verify/bench runs must not accumulate copies under java.io.tmpdir.
    * Swallows its own failures (stale walk snapshot, straggler-task write
    * racing the delete): callers invoke it from `finally` blocks, where a
    * cleanup throw would MASK the query's real exception. An already-gone
    * root is a silent no-op (a crash-only fallback hook racing the
    * normal-path delete must not report anything). Shutdown hooks pass
    * `verbose = false`: hooks run AFTER main's final stdout line, and any
    * hook output lands after Bench's compact digest in the driver's
    * captured tail — round 13's BENCH record shipped `parsed: null` for
    * exactly that reason. */
  private[graft] def deleteRecursively(root: java.nio.file.Path, verbose: Boolean = true): Unit =
    try {
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch {
      case e: Exception =>
        if (verbose) System.err.println(s"[cleanup] leaving $root behind: ${e.getMessage}")
    }
  def indexFor(s: SparkSession, dir: String): IvfModel =
    indexCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      IvfBuild.build(emb, dim)
    })

  /** One shared PQ model per fixture dir per JVM — v12 and v13 use the
    * same operating point (m=16, k=16, iters=10, seed=7), and training is
    * deterministic, so retraining per query would duplicate a driver-side
    * sample collect + Lloyd's for byte-identical codebooks. */
  private val pqCache = scala.collection.concurrent.TrieMap.empty[String, graft.vector.PqModel]
  def pqFor(s: SparkSession, dir: String): graft.vector.PqModel =
    pqCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      Pq.train(emb, dim, m = 16, k = 16, iters = 10, seed = 7L)
    })

  /** The RESIDUAL-trained twin of [[pqFor]] for the IVFADC path (v13):
    * codebooks quantize `x − centroid(partition_id)` of the shared IVF
    * index, so they are only meaningful against that index's codes —
    * cached separately from the raw-vector model. */
  private val pqResidualCache = scala.collection.concurrent.TrieMap.empty[String, graft.vector.PqModel]
  def pqResidualFor(s: SparkSession, dir: String): graft.vector.PqModel =
    pqResidualCache.getOrElseUpdate(dir, {
      val model = indexFor(s, dir)
      val cents = model.partitions.map(p => p.pid -> p.centroid).toMap
      Pq.trainResiduals(model.vectors, cents, model.dim, m = 16, k = 16, iters = 10, seed = 7L)
    })

  /** Residual codes table per fixture dir, encoded ONCE and then served
    * from its saved Parquet artifact ([[Pq.saveCodes]], partitioned by
    * `partition_id` next to the index the way a production deployment
    * would keep it): v13/v14 read the saved table instead of re-running
    * the full-corpus encode inside every query — the "encode once, reuse
    * across query batches" contract in KnnJoin's pq doc, exercised
    * through the real save→load path. The artifact lives for the JVM
    * (one Verify/Bench session) and is deleted on exit. */
  private val residualCodesPath = scala.collection.concurrent.TrieMap.empty[String, String]
  def residualCodesFor(s: SparkSession, dir: String): DataFrame = {
    val path = residualCodesPath.getOrElseUpdate(dir, {
      val model = indexFor(s, dir)
      val cents = model.partitions.map(p => p.pid -> p.centroid).toMap
      val tmp = java.nio.file.Files.createTempDirectory("graft_pq_codes_")
      sys.addShutdownHook(deleteRecursively(tmp, verbose = false))
      Pq.saveCodes(Pq.encodeResiduals(model.vectors, pqResidualFor(s, dir), cents), tmp.toString)
      tmp.toString
    })
    Pq.loadCodes(s, path)
  }

  /** One SQ grid per fixture dir per JVM — training is deterministic
    * (per-dimension min/max), so v14/v15 retraining per query would
    * repeat a full posexplode pass for byte-identical grids. */
  private val sqModelCache = scala.collection.concurrent.TrieMap.empty[String, Sq.SqModel]
  def sqFor(s: SparkSession, dir: String): Sq.SqModel =
    sqModelCache.getOrElseUpdate(dir, Sq.train(t(s, dir, "embeddings").select("vec_id", "embedding")))

  /** SQ grid + partitioned code table per fixture dir, trained/encoded
    * ONCE and served from their saved artifacts ([[Sq.save]]/
    * [[Sq.saveCodes]]) — v16 reads grid and codes through the real
    * save→load path, same contract as [[residualCodesFor]]. */
  private val sqArtifactPath = scala.collection.concurrent.TrieMap.empty[String, String]
  private def sqArtifactsFor(s: SparkSession, dir: String): String =
    sqArtifactPath.getOrElseUpdate(dir, {
      val model = indexFor(s, dir)
      val sqm = sqFor(s, dir) // same rows as model.vectors -> same grid
      val tmp = java.nio.file.Files.createTempDirectory("graft_sq_")
      sys.addShutdownHook(deleteRecursively(tmp, verbose = false))
      Sq.save(sqm, tmp.toString, s)
      Sq.saveCodes(Sq.encodeWithPartition(model.vectors, sqm), tmp.toString)
      tmp.toString
    })

  private val bqArtifactPath = scala.collection.concurrent.TrieMap.empty[String, String]

  /** One saved binary-code artifact per fixture dir per JVM (the
    * sqArtifactsFor pattern): codes carry the IVF partition key and are
    * written partitioned by it, so v23's probed searches read only the
    * probed code files. */
  private def bqArtifactsFor(s: SparkSession, dir: String): String =
    bqArtifactPath.getOrElseUpdate(dir, {
      val model = indexFor(s, dir)
      val dim = model.dim
      val tmp = java.nio.file.Files.createTempDirectory("graft_bq_")
      sys.addShutdownHook(deleteRecursively(tmp, verbose = false))
      graft.vector.BinaryQuant.saveCodes(
        graft.vector.BinaryQuant.encodeWithPartition(model.vectors, dim), tmp.toString)
      tmp.toString
    })

  /** Session-scoped k-NN-graph artifacts per (fixture dir, degree) — the
    * [[indexFor]] deploy-once contract for the graph family: v35/v36/v37
    * CONSUME a built graph the way production queries consume a deployed
    * index (v33/v34 remain the registered build/refine operators and
    * keep building in-query). Cached + persisted, deliberately NOT
    * CacheScope-tracked (survives across queries in one Verify/Bench
    * session, like the index cache). */
  private val knnGraphCache = scala.collection.concurrent.TrieMap.empty[(String, Int), DataFrame]

  /** The one degree every fixture graph is BUILT at; smaller requested
    * degrees are `rnk <= k` views of it. Valid because the prefix of a
    * probed top-K list IS the top-k list when the node set equals the
    * indexed corpus (this helper always passes the full embeddings
    * table, so knnGraph's closure semi-join is a no-op and ranks are
    * identical by construction — pinned in KnnJoinSpec); v35's degree-8
    * walk graph and v36's degree-16 candidate pool then share ONE probed
    * self-search instead of paying two full builds (VERDICT r14 task 6). */
  private val CanonicalGraphDegree = 16
  def knnGraphFor(s: SparkSession, dir: String, k: Int): DataFrame =
    if (k < CanonicalGraphDegree)
      knnGraphFor(s, dir, CanonicalGraphDegree).filter(col("rnk") <= k)
    else
      knnGraphCache.getOrElseUpdate((dir, k), {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        // eager localCheckpoint, not cache()+count(): both materialize
        // once with the same MEMORY_AND_DISK lifetime, but a cached
        // relation re-prints AND re-walks its full build plan (the probed
        // IVF self-search) at every consumer reference — the CacheManager
        // plan-matches against it per query construction, and v35-class
        // consumers referenced it dozens of times per plan. A checkpoint
        // is a true leaf. (Session artifact: non-recomputable is fine —
        // it dies with the session either way.)
        graft.index.KnnJoin.knnGraph(nodes, k, Some(indexFor(s, dir))).localCheckpoint()
      })

  /** One-NN-descent-round refinement of [[knnGraphFor]], same contract. */
  private val refinedGraphCache = scala.collection.concurrent.TrieMap.empty[(String, Int), DataFrame]
  def refinedGraphFor(s: SparkSession, dir: String, k: Int): DataFrame =
    refinedGraphCache.getOrElseUpdate((dir, k), {
      val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
      // eager localCheckpoint — knnGraphFor's leaf rationale
      graft.index.KnnJoin.nnDescentRound(knnGraphFor(s, dir, k), nodes, k).localCheckpoint()
    })

  /** The HNSW family's operating point: every fixture stack is built at
    * this degree (and [[graft.index.Hnsw]]'s default shrink/topCap). */
  val HnswDegree = 8

  /** Session-scoped HNSW layer stack per fixture dir — [[knnGraphFor]]'s
    * deploy-once contract extended to the whole hierarchy (the
    * `Hnsw.build` doc's promise): v37/v38/v39/v40/v41/s20 all CONSUME one
    * shared stack instead of each rebuilding it in-query (three rebuilds
    * cost ~15-25 s of the graph suite at sf0.1). Layer 0's graph IS the
    * session-cached [[knnGraphFor]] artifact; the geometrically smaller
    * upper layers are cached here (deliberately NOT CacheScope-tracked,
    * same lifetime rules as the other per-dir artifacts) and materialized
    * once at build. Consumers MUTATE by deriving new stacks
    * (insert/delete return fresh lineage-truncated layers) — the shared
    * base is read-only. */
  // per-key once-only memo: TrieMap.getOrElseUpdate does not guarantee the
  // builder runs once under concurrent first access, and a double build
  // here leaks a second set of deliberately-untracked cached upper-layer
  // graphs. A lazy-val holder installed via putIfAbsent gives run-once
  // semantics PER DIR without a global lock held across the minutes-long
  // build (a coarse `synchronized` serialized unrelated dirs — exactly the
  // concurrent-tests/notebooks scenario this guard exists for; same
  // pattern on hnswArtifactsFor below)
  private final class Memo[T](build: () => T) { lazy val value: T = build() }
  private val hnswStackCache =
    scala.collection.concurrent.TrieMap.empty[String, Memo[Seq[graft.index.Hnsw.Layer]]]
  def stackFor(s: SparkSession, dir: String): Seq[graft.index.Hnsw.Layer] = {
    val fresh = new Memo(() => {
      val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
      val built = graft.index.Hnsw.build(
        nodes, HnswDegree, Some(indexFor(s, dir)),
        layer0Graph = Some(knnGraphFor(s, dir, HnswDegree)))
      built.zipWithIndex.map { case (l, i) =>
        if (i == built.length - 1) l // bottom graph = knnGraphFor's artifact
        else
          // eager localCheckpoint — knnGraphFor's leaf rationale (the
          // upper-layer graphs embed layer-local IVF builds otherwise)
          graft.index.Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint())
      }
    })
    hnswStackCache.putIfAbsent(dir, fresh).getOrElse(fresh).value
  }

  /** [[stackFor]]'s stack persisted ONCE per dir through the real
    * `Hnsw.save` path ([[residualCodesFor]]'s artifact pattern) — v40
    * reads it back with `Hnsw.load` and certifies the round-trip. */
  private val hnswArtifactPath =
    scala.collection.concurrent.TrieMap.empty[String, Memo[String]]
  def hnswArtifactsFor(s: SparkSession, dir: String): String = {
    val fresh = new Memo(() => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hnsw_")
      sys.addShutdownHook(deleteRecursively(tmp, verbose = false))
      graft.index.Hnsw.save(stackFor(s, dir), HnswDegree, tmp.toString)
      tmp.toString
    })
    hnswArtifactPath.putIfAbsent(dir, fresh).getOrElse(fresh).value
  }

  /** The lifecycle-certification stack's build parameters — shared by
    * [[smallStackFor]] and every consumer mutating/persisting it (the
    * shrink a mutation passes MUST match the build's, Hnsw's contract). */
  val SmallShrink = 2
  val SmallTopCap = 100L

  /** Session-scoped SMALL DEEP stack per fixture dir — the lifecycle-
    * certification corpus (vec_id < 400, shrink 2, topCap 100: 3 layers
    * of 400/204/94 members under the hash level rule). v44/s22/s23 all
    * certify set-level mutation/durability/maintenance facts that need
    * a DEEP stack and mutation coverage, not a big corpus — and each
    * in-query rebuild cost ~3-4 s of pure launch floor (the VERDICT r17
    * #6 consolidation: one build, shared read-only exactly like
    * [[stackFor]]; consumers mutate by deriving fresh stacks). */
  private val smallStackCache =
    scala.collection.concurrent.TrieMap.empty[String, Memo[Seq[graft.index.Hnsw.Layer]]]
  def smallStackFor(s: SparkSession, dir: String): Seq[graft.index.Hnsw.Layer] = {
    val fresh = new Memo(() => {
      val nodes = t(s, dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(col("vec_id") < 400)
      graft.index.Hnsw
        .build(nodes, HnswDegree, shrink = SmallShrink, topCap = SmallTopCap)
        // eager localCheckpoint — knnGraphFor's leaf rationale
        .map(l => graft.index.Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))
    })
    smallStackCache.putIfAbsent(dir, fresh).getOrElse(fresh).value
  }

  private def embQueries(s: SparkSession, dir: String, n: Int): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Stateful streaming plans fix their shuffle/state-store partition
    * count at query start; at fixture scale a 32-way state store per
    * stateful operator is pure init overhead (s05's two-sided join paid
    * ~5 s of it). Scope the streaming run to a small count and restore
    * the session's setting after — the VALUES are partitioning-invariant,
    * only the constant factor changes; at corpus scale callers size this
    * to the cluster like any shuffle.
    *
    * The set/restore is on SESSION-global conf — safe because the driver
    * contract runs queries sequentially on one session (Verify/Bench both
    * do); a concurrently-planned batch query would otherwise pick up the
    * narrow setting. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The q38/s16 materialized-view contract: finalized-view display
    * shaping (shared by the batch incremental merge and the streaming
    * fold) and the one oracle that certifies both — the full recompute. */
  private def mvFinalize(view: DataFrame): DataFrame =
    view.select(
      col("day"), col("event_type"), col("n_events"),
      f32round(col("sum_v"), 2).as("sum_value"),
      round(col("min_v"), 2).as("min_value"),
      round(col("max_v"), 2).as("max_value"),
      f32round(col("sum_v") / col("n_events"), 4).as("avg_value"))
      .orderBy("day", "event_type")

  private val mvOracleSql: String =
    "SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, CAST(count(*) AS BIGINT) AS n_events, " +
      "round(CAST(CAST(sum(value) AS REAL) AS DOUBLE), 2) + 0.0 AS sum_value, " +
      "round(min(value), 2) AS min_value, round(max(value), 2) AS max_value, " +
      "round(CAST(CAST(sum(value) / count(*) AS REAL) AS DOUBLE), 4) + 0.0 AS avg_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"

  /** float32-squeeze + round: the cross-engine-stable float projection.
    * The trailing `+ 0.0` collapses IEEE negative zero (-0.0 + 0.0 = 0.0) —
    * DuckDB rounds tiny negatives to -0.0 where Spark emits 0.0, so every
    * oracle projection paired with f32round carries the same `+ 0.0`. */
  private def f32round(c: org.apache.spark.sql.Column, d: Int) =
    round(c.cast("float").cast("double"), d) + lit(0.0)

  // DuckDB-side L2 between two list<float> columns, double accumulation
  // (mirrors VectorOps.l2Sq: cast each element to double BEFORE subtracting).
  private def duckL2(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def duckNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // DuckDB-side tokens-of-lowered-text (mirrors TextOps.tokens).
  private val duckToks = """list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)"""

  /** The d08/s10 planted-pair projection: every ≥20-token document gets a
    * suffix-truncated near-copy at id+400000, and the screen must recover
    * exactly those cross pairs — one oracle certifies both the batch
    * increment screen and its streaming run. */
  private lazy val d08PlantedPairsSql =
    s"SELECT doc_id + 400000 AS delta_id, doc_id AS corpus_id " +
      s"FROM (SELECT doc_id, $duckToks AS w FROM documents) " +
      "WHERE len(w) >= 20 ORDER BY corpus_id"

  // The q33/s08 MERGE fixture: a 4-column orders snapshot and the
  // deterministic changelog derived from it (updates on every 10th key,
  // deletes on every 17th ≡ 3 — later ord, so they beat same-key updates
  // — inserts with new keys +10⁸ on every 1000th ≡ 1).
  private def ordersSnapshot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  private def ordersChangelog(snap: DataFrame): DataFrame = {
    val updates = snap
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"), lit(1L).as("ord"), lit("U").as("op"),
        col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 100.0).as("o_totalprice"))
    val deletes = snap
      .filter(col("o_orderkey") % 17 === 3)
      .select(
        col("o_orderkey"), lit(2L).as("ord"), lit("D").as("op"),
        lit(null).cast("long").as("o_custkey"), lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"))
    val inserts = snap
      .filter(col("o_orderkey") % 1000 === 1)
      .select(
        (col("o_orderkey") + 100000000L).as("o_orderkey"), lit(1L).as("ord"), lit("I").as("op"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    updates.unionByName(deletes).unionByName(inserts)
  }
  // Shared by q33 (batch) and s08 (streaming fold) — the two MUST agree.
  // Shared by t09 (batch CMS) and s09 (streaming CMS) — the two MUST
  // agree: sketch-counter addition is commutative, so micro-batch
  // slicing cannot change the grid, and one oracle certifies both.
  /** Karp–Rabin character fold in DuckDB — the SQL twin of
    * `TextOps.tokenHashPortable*`; shared by every CMS oracle so the hash
    * family lives in exactly one place per engine. */
  private def krSql(e: String, init: Int, base: Int, mod: Long): String =
    s"list_reduce(list_prepend(CAST($init AS BIGINT), list_transform(generate_series(1, len($e)), " +
      s"i -> CAST(ord(substring($e, i, 1)) AS BIGINT))), (a, c) -> (a * $base + c) % $mod)"

  private def cmsMixesSql(e: String): String =
    s"(${krSql(e, 7, 131, 1000000007L)} * 2654435761) % 1000000007 AS m1, " +
      s"(${krSql(e, 11, 137, 998244353L)} * 2246822519) % 998244353 AS m2"

  /** Shared CTE prefix building the whole-corpus 4×512 sketch (`sk`) from
    * `documents` — the one SQL statement of the CMS construction, used by
    * both t09's estimate oracle and t19's mergeability oracle. */
  private lazy val cmsSketchCtesSql: String =
    s"WITH tok AS (SELECT unnest($duckToks) AS tok FROM documents), " +
      s"h AS (SELECT tok, ${cmsMixesSql("tok")} FROM tok), " +
      "cell AS (SELECT r.j AS j, (m1 + r.j * m2) % 512 AS cell FROM h, range(4) r(j)), " +
      "sk AS (SELECT j, cell, CAST(count(*) AS BIGINT) AS cnt FROM cell GROUP BY j, cell)"

  private lazy val cmsOracleSql = {
    s"$cmsSketchCtesSql, " +
      "exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY tok), " +
      "top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20), " +
      s"th AS (SELECT tok, exact_n, ${cmsMixesSql("tok")} FROM top), " +
      "probe AS (SELECT tok, exact_n, r.j AS j, (m1 + r.j * m2) % 512 AS cell FROM th, range(4) r(j)), " +
      "est AS (SELECT p.tok, p.exact_n, min(s.cnt) AS est_n FROM probe p " +
      "JOIN sk s ON s.j = p.j AND s.cell = p.cell GROUP BY p.tok, p.exact_n) " +
      "SELECT tok, exact_n, est_n, est_n - exact_n AS overcount FROM est ORDER BY exact_n DESC, tok"
  }

  private val mergeOracleSql =
    "WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), " +
      "ch AS (" +
      "SELECT o_orderkey, 1 AS ord, 'U' AS op, o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice " +
      "FROM snap WHERE o_orderkey % 10 = 0 " +
      "UNION ALL SELECT o_orderkey, 2, 'D', NULL, NULL, NULL FROM snap WHERE o_orderkey % 17 = 3 " +
      "UNION ALL SELECT o_orderkey + 100000000, 1, 'I', o_custkey, o_orderstatus, o_totalprice " +
      "FROM snap WHERE o_orderkey % 1000 = 1), " +
      // equal-ord ties: explicit U > D > I rank then the raw op string,
      // mirroring Merge.applyChangelog's total order
      "latest AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey " +
      "ORDER BY ord DESC, CASE op WHEN 'U' THEN 2 WHEN 'D' THEN 1 ELSE 0 END DESC, op DESC) AS rn " +
      "FROM ch) WHERE rn = 1), " +
      "existing AS (SELECT s.o_orderkey, " +
      "CASE WHEN l.op IS NOT NULL THEN l.o_custkey ELSE s.o_custkey END AS o_custkey, " +
      "CASE WHEN l.op IS NOT NULL THEN l.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus, " +
      "CASE WHEN l.op IS NOT NULL THEN l.o_totalprice ELSE s.o_totalprice END AS o_totalprice " +
      "FROM snap s LEFT JOIN latest l USING (o_orderkey) WHERE l.op IS NULL OR l.op <> 'D'), " +
      "fresh AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM latest " +
      "WHERE op <> 'D' AND o_orderkey NOT IN (SELECT o_orderkey FROM snap)) " +
      "SELECT * FROM existing UNION ALL SELECT * FROM fresh ORDER BY o_orderkey"

  val defs: Seq[NamedQuery] = Seq(

    // =====================================================================
    // Vector / similarity search
    // =====================================================================

    // Brute-force exact k-NN join (reference exact_topk, quake_min.py:212-215,
    // batched as queries × corpus) — the ground-truth oracle of the IVF path.
    NamedQuery(
      "v01_exact_knn",
      (s, dir) =>
        IvfSearch
          .exactTopK(
            t(s, dir, "embeddings").select("vec_id", "embedding"),
            embQueries(s, dir, 5),
            k = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk"),
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckL2("q.qvec", "e.embedding")} AS dist2 " +
          "FROM q CROSS JOIN embeddings e), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // Range (radius) search — FAISS range_search as a join
    // (KnnJoin.radiusExact): every in-range (query, vector) pair, no
    // top-k heap, result size radius-bounded. Spark and DuckDB compute
    // l2 with the same double accumulation order, so the raw-distance
    // range predicate agrees bitwise and hash-green certifies the exact
    // membership of every neighborhood. The IVF-pruned variant
    // (radiusIvf) is recall-pinned in KnnJoinSpec.
    NamedQuery(
      "v17_radius_search",
      (s, dir) =>
        graft.index.KnnJoin
          .radiusExact(
            embQueries(s, dir, 5),
            t(s, dir, "embeddings").select("vec_id", "embedding"),
            r2 = 1.9)
          .select(col("query_id"), col("vec_id"), f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "vec_id"),
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckL2("q.qvec", "e.embedding")} AS dist2 " +
          "FROM q CROSS JOIN embeddings e) " +
          "SELECT query_id, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM d WHERE dist2 <= 1.9 ORDER BY query_id, vec_id")),

    // Filtered vector search (KnnJoin.exactFiltered): top-k restricted to
    // corpus rows passing a metadata predicate (label ≡ 0 mod 3 here) —
    // the "search with a payload filter" every vector engine exposes. The
    // filter runs BEFORE distance arithmetic inside the scan stage (a
    // post-filtered top-k would under-fill k; .explain places the
    // predicate directly over the parquet scan). DuckDB replays the same
    // filtered exact ranking, so hash-green certifies both the filter
    // semantics (no leaked out-of-predicate ids) and the ranking. The
    // IVF-pruned variant (KnnJoin.ivfFiltered) is recall-pinned vs this
    // exact path in KnnJoinSpec.
    NamedQuery(
      "v18_filtered_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.index.KnnJoin
          .exactFiltered(embQueries(s, dir, 5), emb, col("label") % 3 === 0, k = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckL2("q.qvec", "e.embedding")} AS dist2 " +
          "FROM q CROSS JOIN embeddings e WHERE e.label % 3 = 0), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // Hybrid retrieval: BM25 keyword top-50 + exact cosine top-50 fused by
    // Reciprocal Rank Fusion (Hybrid.rrf, k0=60 — the Cormack/Clarke/
    // Büttcher constant every production engine defaults to). Both input
    // rankings are individually cross-engine-stable (BM25 ranks on the
    // f32-squeezed score exactly as hash-green t08; cosine ranks on the
    // identical double DAG as hash-green v04), and the fused score is two
    // exact IEEE divisions summed in a fixed order, so DuckDB replays the
    // ENTIRE hybrid pipeline — tokenization, BM25, cosine, fusion, final
    // ordering — and hash-green certifies end-to-end hybrid search.
    // Fusion joins two 50-row lists: metadata-sized at any corpus scale.
    NamedQuery(
      "v19_hybrid_rrf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kw = Bm25
          .score(docs, Seq("vector", "spark", "merge"))
          .select(col("doc_id"), f32round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(50)
          .withColumn(
            "rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id"))))
        val vec = t(s, dir, "embeddings")
          .crossJoin(broadcast(embQueries(s, dir, 1)))
          .withColumn("cos", graft.vector.VectorOps.cosine(col("qvec"), col("embedding")))
          .select(col("vec_id").as("doc_id"), col("cos"))
          .orderBy(col("cos").desc, col("doc_id"))
          .limit(50)
          .withColumn(
            "rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("cos").desc, col("doc_id"))))
        graft.text.Hybrid
          .rrf(kw, vec, k0 = 60)
          .select(
            col("doc_id"),
            // 0 = absent from that list (NOT rank 0) — keeps the emitted
            // column a non-null int so both engines' parquet/pandas
            // normalization agree byte-for-byte
            coalesce(col("kw_rank"), lit(0)).cast("int").as("kw_rank"),
            coalesce(col("vec_rank"), lit(0)).cast("int").as("vec_rank"),
            f32round(col("rrf"), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
          .withColumn(
            "rnk",
            row_number()
              .over(org.apache.spark.sql.expressions.Window
                .orderBy(col("rrf").desc, col("doc_id")))
              .cast("int"))
          .orderBy("rnk")
      },
      Some {
        def term(i: Int): String =
          s"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
            s" * CAST(tf$i AS DOUBLE) * (1.2 + 1.0) / (CAST(tf$i AS DOUBLE) + 1.2 * " +
            s"(1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        s"WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents), " +
          "perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl, " +
          "CAST(sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf0, " +
          "CAST(sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf1, " +
          "CAST(sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf2 " +
          "FROM tok GROUP BY doc_id), " +
          "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl, " +
          "CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0, " +
          "CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1, " +
          "CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2 FROM perdoc), " +
          "kwsc AS (SELECT doc_id, " +
          s"round(CAST(CAST(${term(0)} + ${term(1)} + ${term(2)} AS REAL) AS DOUBLE), 4) + 0.0 AS score " +
          "FROM perdoc, stats), " +
          "kw AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS kw_rank " +
          "FROM kwsc ORDER BY score DESC, doc_id LIMIT 50), " +
          "q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0), " +
          s"cs AS (SELECT e.vec_id AS doc_id, ${duckDot("q.qvec", "e.embedding")} / " +
          s"(${duckNorm("q.qvec")} * ${duckNorm("e.embedding")}) AS cos FROM embeddings e, q), " +
          "vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS vec_rank " +
          "FROM cs ORDER BY cos DESC, doc_id LIMIT 50), " +
          "fused AS (SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id, " +
          "CAST(coalesce(kw.kw_rank, 0) AS INTEGER) AS kw_rank, " +
          "CAST(coalesce(vec.vec_rank, 0) AS INTEGER) AS vec_rank, " +
          "coalesce(1.0 / (60.0 + kw.kw_rank), 0.0) + coalesce(1.0 / (60.0 + vec.vec_rank), 0.0) AS rrf " +
          "FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id), " +
          "cut AS (SELECT doc_id, kw_rank, vec_rank, " +
          "round(CAST(CAST(rrf AS REAL) AS DOUBLE), 6) + 0.0 AS rrf " +
          "FROM fused ORDER BY rrf DESC, doc_id LIMIT 20) " +
          "SELECT doc_id, kw_rank, vec_rank, rrf, " +
          "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk " +
          "FROM cut ORDER BY rnk"
      }),

    // MMR diversity re-ranking (Mmr.rerank, Carbonell & Goldstein 1998):
    // greedy λ·rel − (1−λ)·max-sim selection of 5 from the cosine top-20
    // of each query. The greedy trajectory is sequential in k but the
    // oracle replays it EXACTLY: each of the 5 rounds is unrolled into
    // its own CTE chain (remaining = anti-join vs selected, max-sim
    // aggregate, argmax pick), and every pick ranks on the float32-
    // squeezed score with vec_id ties on both sides — one ulp of cosine
    // wobble can never flip a pick, so the whole cascade is
    // bit-reproducible and hash-green certifies all 5 selection rounds.
    NamedQuery(
      "v20_mmr_rerank",
      (s, dir) => {
        import graft.vector.{Mmr, VectorOps}
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("rel").desc, col("vec_id"))
        val cand = t(s, dir, "embeddings")
          .crossJoin(broadcast(embQueries(s, dir, 3)))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("rel", VectorOps.cosine(col("qvec"), col("embedding")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 20)
          .select("query_id", "vec_id", "rel", "embedding")
        Mmr
          .rerank(cand, k = 5, lambda = 0.7)
          .select(
            col("query_id"), col("sel_rank"), col("vec_id"),
            f32round(col("mmr"), 4).as("mmr"))
          .orderBy("query_id", "sel_rank")
      },
      Some {
        def cos(a: String, b: String) =
          s"${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)})"
        val sb = new StringBuilder
        sb ++= "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3), "
        sb ++= s"scored AS (SELECT q.query_id, e.vec_id, ${cos("q.qvec", "e.embedding")} AS rel, e.embedding " +
          "FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id), "
        sb ++= "cand AS (SELECT query_id, vec_id, rel, embedding FROM (SELECT *, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rnk FROM scored) WHERE rnk <= 20), "
        sb ++= "s1 AS (SELECT query_id, 1 AS sel_rank, vec_id, mmr, embedding FROM (" +
          "SELECT query_id, vec_id, 0.7 * rel AS mmr, embedding, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY round(CAST(CAST(0.7 * rel AS REAL) AS DOUBLE), 4) DESC, vec_id) AS rn FROM cand) WHERE rn = 1), "
        for (step <- 2 to 5) {
          val selU = (1 until step).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
          sb ++= s"sel${step - 1} AS ($selU), "
          sb ++= s"r$step AS (SELECT c.query_id, c.vec_id, c.rel, c.embedding FROM cand c " +
            s"WHERE NOT EXISTS (SELECT 1 FROM sel${step - 1} s WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)), "
          sb ++= s"m$step AS (SELECT r.query_id, r.vec_id, any_value(r.rel) AS rel, any_value(r.embedding) AS embedding, " +
            s"max(${cos("r.embedding", "s.embedding")}) AS max_sim " +
            s"FROM r$step r JOIN sel${step - 1} s ON s.query_id = r.query_id GROUP BY r.query_id, r.vec_id), "
          sb ++= s"s$step AS (SELECT query_id, $step AS sel_rank, vec_id, mmr, embedding FROM (" +
            s"SELECT query_id, vec_id, 0.7 * rel - (1.0 - 0.7) * max_sim AS mmr, embedding, " +
            "row_number() OVER (PARTITION BY query_id " +
            "ORDER BY round(CAST(CAST(0.7 * rel - (1.0 - 0.7) * max_sim AS REAL) AS DOUBLE), 4) DESC, vec_id) AS rn " +
            s"FROM m$step) WHERE rn = 1), "
        }
        sb ++= "allsel AS (" + (1 to 5).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ") + ") "
        sb ++= "SELECT query_id, sel_rank, vec_id, round(CAST(CAST(mmr AS REAL) AS DOUBLE), 4) + 0.0 AS mmr " +
          "FROM allsel ORDER BY query_id, sel_rank"
        sb.toString
      }),

    // The full retrieval stack COMPOSED (the p09 trick applied to
    // search): metadata filter → BM25 keyword top-30 + cosine vector
    // top-30 over the FILTERED corpus → Reciprocal Rank Fusion → top-10
    // cut → MMR diversity re-rank to a final 5. Every stage is the
    // already-certified machinery (v18 filter, t08 BM25, v04 cosine, v19
    // fusion, v20 MMR), and every stage's arithmetic is portable, so one
    // DuckDB query replays the ENTIRE stack — a user's production
    // retrieval pipeline certified end-to-end in a single hash.
    NamedQuery(
      "v21_retrieval_pipeline",
      (s, dir) => {
        import graft.vector.{Mmr, VectorOps}
        val W = org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val keepEmb = emb.filter(col("label") % 2 === 0)
        val docs = t(s, dir, "documents")
          .join(keepEmb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
        val kw = Bm25
          .score(docs, Seq("vector", "spark", "merge"))
          .select(col("doc_id"), f32round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(30)
          .withColumn("rank", row_number().over(W.orderBy(col("score").desc, col("doc_id"))))
        val vec = keepEmb
          .crossJoin(broadcast(embQueries(s, dir, 1)))
          .withColumn("cos", VectorOps.cosine(col("qvec"), col("embedding")))
          .select(col("vec_id").as("doc_id"), col("cos"))
          .orderBy(col("cos").desc, col("doc_id"))
          .limit(30)
          .withColumn("rank", row_number().over(W.orderBy(col("cos").desc, col("doc_id"))))
        val cut = graft.text.Hybrid
          .rrf(kw, vec, k0 = 60)
          .orderBy(f32round(col("rrf"), 6).desc, col("doc_id"))
          .limit(10)
        val cand = cut
          .join(keepEmb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
          .select(
            lit(0L).as("query_id"), col("doc_id").as("vec_id"),
            col("rrf").as("rel"), col("embedding"))
        Mmr
          .rerank(cand, k = 5, lambda = 0.7)
          .select(
            col("sel_rank"), col("vec_id").as("doc_id"),
            f32round(col("mmr"), 6).as("mmr"))
          .orderBy("sel_rank")
      },
      Some {
        def term(i: Int): String =
          s"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
            s" * CAST(tf$i AS DOUBLE) * (1.2 + 1.0) / (CAST(tf$i AS DOUBLE) + 1.2 * " +
            s"(1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        def cos(a: String, b: String) =
          s"${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)})"
        val sb = new StringBuilder
        sb ++= "WITH fe AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0), "
        sb ++= "fd AS (SELECT d.doc_id, d.text FROM documents d JOIN fe ON fe.vec_id = d.doc_id), "
        sb ++= s"tok AS (SELECT doc_id, unnest(${duckToks.replace("text", "fd.text")}) AS tk FROM fd), "
        sb ++= "perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl, " +
          "CAST(sum(CASE WHEN tk = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf0, " +
          "CAST(sum(CASE WHEN tk = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf1, " +
          "CAST(sum(CASE WHEN tk = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf2 FROM tok GROUP BY doc_id), "
        sb ++= "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl, " +
          "CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0, " +
          "CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1, " +
          "CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2 FROM perdoc), "
        sb ++= "kwsc AS (SELECT doc_id, " +
          s"round(CAST(CAST(${term(0)} + ${term(1)} + ${term(2)} AS REAL) AS DOUBLE), 4) + 0.0 AS score " +
          "FROM perdoc, stats), "
        sb ++= "kw AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS kw_rank " +
          "FROM kwsc ORDER BY score DESC, doc_id LIMIT 30), "
        sb ++= "q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0), "
        sb ++= s"csim AS (SELECT e.vec_id AS doc_id, ${cos("q.qvec", "e.embedding")} AS c FROM fe e, q), "
        sb ++= "vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS INTEGER) AS vec_rank " +
          "FROM csim ORDER BY c DESC, doc_id LIMIT 30), "
        sb ++= "fused AS (SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id, " +
          "coalesce(1.0 / (60.0 + kw.kw_rank), 0.0) + coalesce(1.0 / (60.0 + vec.vec_rank), 0.0) AS rrf " +
          "FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id), "
        sb ++= "cut AS (SELECT doc_id, rrf FROM fused " +
          "ORDER BY round(CAST(CAST(rrf AS REAL) AS DOUBLE), 6) DESC, doc_id LIMIT 10), "
        sb ++= "cand AS (SELECT c.doc_id AS vec_id, c.rrf AS rel, fe.embedding FROM cut c " +
          "JOIN fe ON fe.vec_id = c.doc_id), "
        sb ++= "s1 AS (SELECT 1 AS sel_rank, vec_id, mmr, embedding FROM (" +
          "SELECT vec_id, 0.7 * rel AS mmr, embedding, row_number() OVER (" +
          "ORDER BY round(CAST(CAST(0.7 * rel AS REAL) AS DOUBLE), 4) DESC, vec_id) AS rn FROM cand) WHERE rn = 1), "
        for (step <- 2 to 5) {
          val selU = (1 until step).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
          sb ++= s"sel${step - 1} AS ($selU), "
          sb ++= s"r$step AS (SELECT c.vec_id, c.rel, c.embedding FROM cand c " +
            s"WHERE NOT EXISTS (SELECT 1 FROM sel${step - 1} s WHERE s.vec_id = c.vec_id)), "
          sb ++= s"m$step AS (SELECT r.vec_id, any_value(r.rel) AS rel, any_value(r.embedding) AS embedding, " +
            s"max(${cos("r.embedding", "s.embedding")}) AS max_sim FROM r$step r, sel${step - 1} s GROUP BY r.vec_id), "
          sb ++= s"s$step AS (SELECT $step AS sel_rank, vec_id, mmr, embedding FROM (" +
            s"SELECT vec_id, 0.7 * rel - (1.0 - 0.7) * max_sim AS mmr, embedding, row_number() OVER (" +
            s"ORDER BY round(CAST(CAST(0.7 * rel - (1.0 - 0.7) * max_sim AS REAL) AS DOUBLE), 4) DESC, vec_id) AS rn " +
            s"FROM m$step) WHERE rn = 1), "
        }
        sb ++= "allsel AS (" + (1 to 5).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ") + ") "
        sb ++= "SELECT sel_rank, vec_id AS doc_id, round(CAST(CAST(mmr AS REAL) AS DOUBLE), 6) + 0.0 AS mmr " +
          "FROM allsel ORDER BY sel_rank"
        sb.toString
      }),

    // Binary (sign-bit) quantization ANN (BinaryQuant.topK): 1 bit per
    // dimension packed 32/word, codegen'd Hamming candidate scan, exact
    // L2 re-rank of the top-40 — the 32×-compression end of the menu
    // beside PQ (16×) and SQ (4×). The oracle replays the WHOLE pipeline
    // from first principles: sign-bit disagreement count (≡ packed
    // Hamming — the packing itself is spec-pinned in BinaryQuantSpec),
    // the same (hamming, vec_id) candidate cut, the same exact re-rank.
    // All-integer candidate math → no float wobble anywhere before the
    // final squeezed distances.
    NamedQuery(
      "v22_binary_hamming_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        BinaryQuant
          .topK(emb, embQueries(s, dir, 5), dim, k = 10, rerank = 4)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          "h AS (SELECT q.query_id, c.vec_id, CAST(list_sum(list_transform(" +
          "generate_series(1, len(c.embedding)), i -> " +
          "CASE WHEN (c.embedding[i] > 0) <> (q.qvec[i] > 0) THEN 1 ELSE 0 END)) AS INTEGER) AS hd " +
          "FROM embeddings c CROSS JOIN q), " +
          "cand AS (SELECT query_id, vec_id, row_number() OVER " +
          "(PARTITION BY query_id ORDER BY hd ASC, vec_id ASC) AS crnk FROM h), " +
          "d AS (SELECT cand.query_id, cand.vec_id, " +
          "list_sum(list_transform(generate_series(1, len(e.embedding)), i -> " +
          "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)) * " +
          "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)))) AS dist2 " +
          "FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id " +
          "JOIN q ON q.query_id = cand.query_id WHERE cand.crnk <= 40), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // IVF + binary composed — the 32× sibling of v13 (IVFADC) and v16
    // (IVF+SQ), completing the compression-menu symmetry: APS probe
    // pruning decides WHICH partitions are read, sign-bit codes decide
    // how many BYTES each read costs (8 B/vec at dim 64), and because
    // the code is corpus-global (no per-partition statistic) pruning
    // never changes a code's value — full-probe ≡ the plain v22 scan,
    // spec-pinned in BinaryQuantSpec. Codes served from the saved
    // partition_id-partitioned artifact (BinaryQuant.saveCodes →
    // loadCodes), probed searches reading only probed files; Hamming
    // candidates re-ranked exactly (bounded gather join). Probe set =
    // k-means state → bound-certified like v16: recall@10 vs the exact
    // oracle must clear the bar the spec pins.
    NamedQuery(
      "v23_ivf_binary_search",
      (s, dir) => {
        val model = indexFor(s, dir)
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val codes = graft.vector.BinaryQuant.loadCodes(s, bqArtifactsFor(s, dir))
        val qs = embQueries(s, dir, 20)
        // cached: the depth aggregate is an action and the probed scan
        // re-reads the same probe set (CacheScope drops it after)
        val probes = graft.CacheScope.track(
          IvfSearch.chooseProbes(model, qs, IvfSearch.Params(k = 10)).cache())
        // density-aware rerank multiplier (candidate cut = k·rerank): 64
        // at the calibrated 2,000-row point, scaling with the MAX PROBED
        // count (one metadata-sized aggregate over the probe set — the
        // Hamming ordering only ranks the probed cells, so depth derived
        // from TOTAL corpus size would make per-query rerank work O(n))
        // — sign-bit orderings are the coarsest tier, and the fixed k·64
        // cut fell below the 0.9 bar at 10× density (DepthProbe:
        // 6400-deep restores 0.980 there)
        val rerank = Pq.adaptiveDepthProbed(probes, 64)
        val cands = graft.vector.BinaryQuant
          .ivfTopK(codes, probes.select("query_id", "partition_id"), qs, model.dim, k = 10, rerank = rerank)
        val approx = Pq.rerankExact(cands, emb, qs, k = 10)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        IvfSearch
          .recallAtK(approx, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .select(
            col("n_queries"),
            when(col("m") >= 0.9, 1L).otherwise(0L).as("recall_ok"),
            lit(8L).as("bytes_per_vec"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok, " +
          "CAST(8 AS BIGINT) AS bytes_per_vec")),

    // IVF APS search (reference search, quake_min.py:147-168) over the
    // two-level index. The probe math (k-means state + APS softmax) is
    // not SQL-portable, but the acceptance FACTS about the result are —
    // the q31/v06 bound-flag shape: every returned id is a corpus member,
    // every query returns exactly k contiguous ranks, dist2 is monotone
    // in rank, and recall@10 vs the exact oracle (computed in-query)
    // clears the reference's own 0.9 bar (observed 0.97+ across sfs).
    // The oracle states the expected flag row, so hash-green certifies
    // the flagship ANN pipeline's output shape AND accuracy in the
    // driver record; raw rows stay visible in IvfSpec and the replay.
    NamedQuery(
      "v02_ivf_search",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val qs = embQueries(s, dir, 20)
        val params = IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64)
        // read three times (shape, membership, recall) — CacheScope drops it
        val res = graft.CacheScope.track(
          IvfSearch.search(indexFor(s, dir), qs, params).cache())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")
        val shape = res
          .withColumn("prev_d", lag(col("dist2"), 1).over(w))
          .groupBy("query_id")
          .agg(
            count(lit(1)).as("n"),
            min("rank").as("r0"),
            max("rank").as("r1"),
            min(when(col("prev_d").isNull || col("dist2") >= col("prev_d"), 1L)
              .otherwise(0L)).as("mono"))
          .agg(
            count(lit(1)).as("n_queries"),
            sum("n").as("n_rows"),
            min(when(col("n") === 10 && col("r0") === 1 && col("r1") === 10, 1L)
              .otherwise(0L)).as("shape_ok"),
            min("mono").as("monotone_ok"))
        val member = res
          .join(emb.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        val exact = IvfSearch.exactTopK(emb, qs, 10)
        val recall = IvfSearch
          .recallAtK(res, exact, 10, qs)
          .agg(avg("recall").as("m"))
          .select(when(col("m") >= 0.9, 1L).otherwise(0L).as("recall_ok"))
        shape.crossJoin(member).crossJoin(recall)
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(200 AS BIGINT) AS n_rows, " +
          "CAST(1 AS BIGINT) AS shape_ok, CAST(1 AS BIGINT) AS monotone_ok, " +
          "CAST(1 AS BIGINT) AS member_ok, CAST(1 AS BIGINT) AS recall_ok")),

    // Per-label centroids via the VectorSums kernel (O5): `n_vecs` counts
    // rows, the mean skips null embeddings (DuckDB's avg does too) —
    // projected to the first 8 dims so DuckDB can check element-wise.
    NamedQuery(
      "v03_label_centroids",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings").select(col("label").cast("int").as("label"), col("embedding"))
        val cents = VectorSums.of(e, "embedding")(() => r => Some(Option.when(!r.isNullAt(0))(r.getInt(0)))).means
        val c = e.groupBy("label").agg(count(lit(1)).as("n_vecs")).as[(Option[Int], Long)].collect()
          .map { case (label, n) => (label, n, cents.get(label).map(_._1.toSeq)) }
          .toSeq.toDF("label", "n_vecs", "c")
        c.select(
          col("label") +: col("n_vecs") +:
            (1 to 8).map(i => f32round(element_at(col("c"), i), 3).as(s"d$i")): _*)
          .orderBy("label")
      },
      Some(
        "SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vecs, " +
          (1 to 8)
            .map(i => s"round(CAST(CAST(avg(CAST(embedding[$i] AS DOUBLE)) AS REAL) AS DOUBLE), 3) + 0.0 AS d$i")
            .mkString(", ") +
          " FROM embeddings GROUP BY 1 ORDER BY label")),

    // Brute-force cosine top-k (the similarity-search baseline the brief
    // asks for; IVF/LSH variants are the scale path).
    NamedQuery(
      "v04_cosine_topk",
      (s, dir) => {
        import graft.vector.VectorOps
        val cands = t(s, dir, "embeddings")
          .crossJoin(broadcast(embQueries(s, dir, 5)))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos", VectorOps.cosine(col("qvec"), col("embedding")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc_nulls_last, col("vec_id").asc)
        cands
          .withColumn("rnk", row_number().over(w).cast("int"))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("rnk"), col("vec_id"), f32round(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckDot("q.qvec", "e.embedding")} / " +
          s"(${duckNorm("q.qvec")} * ${duckNorm("e.embedding")}) AS cos " +
          "FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id), " +
          "r AS (SELECT query_id, vec_id, cos, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(cos AS REAL) AS DOUBLE), 4) + 0.0 AS cos " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // Embedding near-dup via random-hyperplane LSH + exact cosine verify —
    // the bucketed (non-all-pairs) scale path. The plane hashes aren't
    // SQL-portable, but the OUTPUT is pinned by construction (the v08
    // trick): the only pairs that can clear the 0.99 cosine bar are the
    // planted (v, v+100000) perturbation pairs (cos ≈ 0.9992; the fixture's
    // max natural pairwise cosine ≈ 0.51), and DuckDB can compute the
    // ±0.005 float32 perturbation + exact cosine inline — so the oracle is
    // the full planted-pair set, and the hash check additionally verifies
    // the LSH recovered every one of them.
    NamedQuery(
      "v05_cosine_lsh_pairs",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        // The synthetic corpus has no near-identical pairs (max pairwise
        // cosine ≈ 0.51; the embeddings are unit-normalized), so plant
        // them: each vector rejoined under vec_id+100000 with a small
        // deterministic ±0.005 perturbation (cos ≈ 0.9992) — the LSH must
        // recover these pairs. 72 planes / 12-row bands → 4096 buckets per
        // band: 8-row bands' 256 buckets over-generated candidates ~75×
        // (153k candidates for 2k true pairs at sf0.1, and verification
        // dominated the runtime); at 12-row bands candidates ≈ true pairs.
        // Recall margin measured per SF: every planted pair agrees in ≥2
        // of the 6 bands (deterministic — fixed hyperplanes, fixed data).
        val perturbed = emb.select(
          (col("vec_id") + 100000L).as("vec_id"),
          transform(
            col("embedding"),
            (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.005f)).otherwise(lit(-0.005f))).as("embedding"))
        // cached: the pair join references its input three times (sketch +
        // two post-dedup re-attach joins) since the narrow-key rewrite;
        // CacheScope-tracked so the harness drops it after the query
        val all = graft.CacheScope.track(emb.unionByName(perturbed).cache())
        Dedup
          .cosineLshPairs(all, dim, nPlanes = 72, bands = 6, minCosine = 0.99)
          .select(col("id_a"), col("id_b"), f32round(col("cosine"), 4).as("cosine"))
          .orderBy("id_a", "id_b")
      },
      Some(
        // DuckDB lambda indices are 1-BASED where Spark's transform index is
        // 0-based: Spark's even positions (+0.005) are DuckDB's odd i.
        // FLOAT + FLOAT stays FLOAT in DuckDB, so the perturbed array is
        // bit-identical to Spark's float32 arithmetic.
        "WITH pert AS (SELECT vec_id, embedding AS emb_a, " +
          "list_transform(embedding, (x, i) -> x + CASE WHEN i % 2 = 1 " +
          "THEN CAST(0.005 AS REAL) ELSE CAST(-0.005 AS REAL) END) AS emb_b FROM embeddings), " +
          s"c AS (SELECT vec_id AS id_a, vec_id + 100000 AS id_b, ${duckDot("emb_a", "emb_b")} / " +
          s"(${duckNorm("emb_a")} * ${duckNorm("emb_b")}) AS cosine FROM pert) " +
          "SELECT id_a, id_b, round(CAST(CAST(cosine AS REAL) AS DOUBLE), 4) + 0.0 AS cosine " +
          "FROM c WHERE cosine >= 0.99 ORDER BY id_a, id_b")),

    // IVF recall vs the exact oracle — the reference's own acceptance bar
    // (recall ≥ 0.9 at target 0.9; notebook cell-3 achieved 0.968).
    NamedQuery(
      "v06_ivf_recall",
      (s, dir) => {
        val model = indexFor(s, dir)
        val qs = embQueries(s, dir, 20)
        val params = IvfSearch.Params(k = 10, targetRecall = 0.9, maxProbe = 64)
        val res = IvfSearch.search(model, qs, params)
        val exact = IvfSearch.exactTopK(t(s, dir, "embeddings").select("vec_id", "embedding"), qs, 10)
        // q31's certification trick: the seeded recall VALUE is not
        // SQL-portable, but the acceptance BOUND is — the oracle expects
        // the flag row, so hash-green proves the bar held (observed
        // 0.97-0.975 across sfs vs the 0.9 bar; raw values stay visible
        // in the replay record and IvfSpec).
        IvfSearch
          .recallAtK(res, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .select(
            col("n_queries"),
            when(col("m") >= 0.9, 1L).otherwise(0L).as("recall_ok"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok")),

    // The batched-scan exact k-NN (the replay's hot path) under the SAME
    // DuckDB oracle as v01 — hash-verifies scanTopKLocal end-to-end.
    NamedQuery(
      "v07_batched_scan_knn",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val vectors = emb
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"), lit(0L).as("partition_id"))
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          .as[(Long, Seq[Float])].collect()
          .map { case (id, v) => (id, v.toArray) }.toIndexedSeq
        IvfSearch.scanTopKLocal(vectors, queries, null, 10)
          .toSeq.toDF("query_id", "rnk", "vec_id", "dist2")
          .select(col("query_id"), col("rnk"), col("vec_id"), f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckL2("q.qvec", "e.embedding")} AS dist2 " +
          "FROM q CROSS JOIN embeddings e), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // The IVF gather+top-k stage (quake_min.py:151-163) under a PINNED
    // probe set, hash-checked against DuckDB. The probe CHOICE is index
    // state DuckDB can't recompute (k-means + APS math — oracled instead by
    // the chooseProbesLocal ≡ chooseProbes parity test); given the probe
    // set, gather+rank IS pure SQL. To make the partition assignment
    // SQL-portable this query partitions by `vec_id % 8` and pins each
    // query's probe set to {q, q+2, q+5} mod 8 — while still running the
    // REAL stage-3 code path (searchProbed → l2Sq → TopKAgg), so the
    // flagship pipeline's gather stage is no longer rows-only.
    NamedQuery(
      "v08_gather_topk_pinned",
      (s, dir) => {
        val nP = 8
        val vectors = t(s, dir, "embeddings").select(
          col("vec_id"),
          col("embedding"),
          pmod(col("vec_id"), lit(nP)).cast("long").as("partition_id"))
        val probes = embQueries(s, dir, 5).select(
          col("query_id"),
          explode(array(
            pmod(col("query_id"), lit(nP)).cast("long"),
            pmod(col("query_id") + 2, lit(nP)).cast("long"),
            pmod(col("query_id") + 5, lit(nP)).cast("long"))).as("partition_id"),
          col("qvec"))
        val pinned = IvfModel(
          dim = 0, vectors = vectors, coarseCentroids = Array.empty,
          coarseBaseIds = Map.empty, partitions = Vector.empty, queryCounter = 0L)
        IvfSearch
          .searchProbed(pinned, probes, IvfSearch.Params(k = 10))
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          "p AS (SELECT query_id, qvec, unnest([query_id % 8, (query_id + 2) % 8, (query_id + 5) % 8]) AS pid FROM q), " +
          s"d AS (SELECT p.query_id, e.vec_id, ${duckL2("p.qvec", "e.embedding")} AS dist2 " +
          "FROM p JOIN embeddings e ON e.vec_id % 8 = p.pid), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // The saved-index production path, driver-visible AND hash-checked:
    // save as partition_id-partitioned Parquet → load → gather+top-k over
    // the LOADED table with a static `partition_id IN (probed)` predicate
    // that becomes a PartitionFilter, so unprobed partition directories are
    // never read (the on-disk 100 TB pruning story; IvfSpec asserts the
    // PartitionFilters plan). Oracled via the v08 pinning trick applied to
    // the round-trip: partitions are `vec_id % 16` and each query's probe
    // set is pinned to {q, q+2, q+5} mod 16 — SQL-portable, while running
    // the REAL save → load → prune → searchProbed code path, so the hash
    // numerically verifies what came OFF DISK, not just row counts. (The
    // APS probe CHOICE over real k-means state is oracled by the
    // chooseProbesLocal ≡ chooseProbes parity test and exercised by v02.)
    NamedQuery(
      "v09_saved_index_search",
      (s, dir) => {
        val nP = 16
        val model0 = IvfModel(
          dim = 0,
          vectors = t(s, dir, "embeddings").select(
            col("vec_id"),
            col("embedding"),
            pmod(col("vec_id"), lit(nP)).cast("long").as("partition_id")),
          coarseCentroids = Array.empty, coarseBaseIds = Map.empty,
          partitions = Vector.empty, queryCounter = 0L)
        // fresh temp dir per run, deleted once the (bounded, k·|Q|-row)
        // result is collected — repeated verify/bench invocations must not
        // accumulate saved index copies under the system temp dir
        val tmp = java.nio.file.Files.createTempDirectory("graft_saved_idx_")
        val (rows, schema) = try {
          IvfModel.save(s, model0, tmp.toString)
          val loaded = IvfModel.load(s, tmp.toString)
          val probes = embQueries(s, dir, 5).select(
            col("query_id"),
            explode(array(
              pmod(col("query_id"), lit(nP)).cast("long"),
              pmod(col("query_id") + 2, lit(nP)).cast("long"),
              pmod(col("query_id") + 5, lit(nP)).cast("long"))).as("partition_id"),
            col("qvec"))
          // queries 0..4 probe pids {0..9} — the static IN list prunes the
          // other 6 on-disk partition directories at scan time
          val pids = (0 until 5).flatMap(q => Seq(q % nP, (q + 2) % nP, (q + 5) % nP)).distinct.map(_.toLong)
          val pinned = loaded.copy(vectors = loaded.vectors.filter(col("partition_id").isInCollection(pids)))
          val res = IvfSearch
            .searchProbed(pinned, probes, IvfSearch.Params(k = 10))
            .select(
              col("query_id"),
              col("rank").cast("int").as("rnk"),
              col("vec_id"),
              f32round(col("dist2"), 3).as("dist2"))
            .orderBy("query_id", "rnk")
          (res.collect().toSeq, res.schema)
        } finally deleteRecursively(tmp)
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          "p AS (SELECT query_id, qvec, unnest([query_id % 16, (query_id + 2) % 16, (query_id + 5) % 16]) AS pid FROM q), " +
          s"d AS (SELECT p.query_id, e.vec_id, ${duckL2("p.qvec", "e.embedding")} AS dist2 " +
          "FROM p JOIN embeddings e ON e.vec_id % 16 = p.pid), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // =====================================================================
    // Deduplication (documents)
    // =====================================================================

    // Exact dedup by content hash. The fixture corpus has no exact dups, so
    // every doc_id % 5 == 0 doc is re-inserted under doc_id+100000 — the
    // oracle plants the identical dups, so group counts must agree.
    NamedQuery(
      "d01_exact_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        Dedup
          .exactGroups(docs.unionByName(planted))
          .filter(col("n_docs") > 1)
          .select("content_hash", "n_docs", "keeper_id")
          .orderBy("keeper_id")
      },
      Some(
        "WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0) " +
          "SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper_id " +
          "FROM all_docs GROUP BY 1 HAVING count(*) > 1 ORDER BY keeper_id")),

    // MinHash + LSH banding near-dup, HASH-CHECKED via planted-pair
    // projection: each doc with ≥ 20 tokens is rejoined under doc_id+100000
    // with its first TWO tokens dropped — true Jaccard ≥ ~0.89 (the prefix's
    // shingles are a ⊆ of the original's), so with a 32-hash signature in
    // 16 two-row bands the probability any planted pair evades every band
    // is ~(1−J²)¹⁶ ≈ 1e-11, and the seeded hashes make the outcome a FIXED
    // fact of the fixture (verified at all three SFs). The output projects
    // the planted pair ids only — the seeded est_jaccard VALUE and any
    // natural near-dup pairs (whose estimates wobble around their true
    // Jaccard) are not SQL-portable, but the planted pair SET is: DuckDB
    // computes it exactly, so the hash proves the LSH recovered every
    // planted pair. Full output incl. natural pairs + estimates stays
    // covered by DedupSpec.
    NamedQuery(
      "d02_minhash_lsh",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toks = TextOps.tokens(col("text"))
        val mutated = docs
          .filter(size(toks) >= 20)
          .select(
            (col("doc_id") + 100000L).as("doc_id"),
            concat_ws(" ", slice(toks, 3, 1000000)).as("text"))
        Dedup
          .minhashLsh(docs.unionByName(mutated), shingleN = 3, numHashes = 32, bands = 16, minEstJaccard = 0.5)
          .filter(col("doc_b") === col("doc_a") + 100000L)
          .select("doc_a", "doc_b")
          .orderBy("doc_a")
      },
      Some(
        s"SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b FROM (SELECT doc_id, $duckToks AS w FROM documents) " +
          "WHERE len(w) >= 20 ORDER BY doc_a")),

    // Incremental MinHash dedup (Dedup.minhashLshAgainst): screen a NEW
    // batch against the EXISTING corpus — only cross (delta, corpus)
    // pairs, the corpus never re-shuffled (its banded table is the static
    // side; the delta's band keys broadcast against it, d06's asymmetry
    // applied to near-dup screening). Delta = suffix-truncated copies of
    // long corpus docs (planted, ids +400000); like d02, the seeded
    // estimates are not SQL-portable but the planted pair SET is — DuckDB
    // states it exactly, so hash-green proves the increment screen
    // recovered every planted near-copy and nothing else from this
    // projection.
    NamedQuery(
      "d08_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toks = TextOps.tokens(col("text"))
        val delta = docs
          .filter(size(toks) >= 20)
          .select(
            (col("doc_id") + 400000L).as("doc_id"),
            concat_ws(" ", slice(toks, 3, 1000000)).as("text"))
        Dedup
          .minhashLshAgainst(docs, delta, shingleN = 3, numHashes = 32, bands = 16, minEstJaccard = 0.5)
          .filter(col("delta_id") === col("corpus_id") + 400000L)
          .select("delta_id", "corpus_id")
          .orderBy("corpus_id")
      },
      Some(d08PlantedPairsSql)),

    // The SAME incremental screen run as a STREAM (s10 ↔ d08 the way
    // s08 ↔ q33): the corpus LSH index is built ONCE (Dedup.lshIndex —
    // signed + banded, cached), the planted delta arrives in 4 file-
    // source micro-batches, and every trigger screens only its own
    // documents against the static band table via the d08 broadcast-
    // delta join (StreamingOps.lshScreenStream). Each delta doc lands
    // wholly in one micro-batch and screening is per-document, so the
    // accumulated pair set is provably the batch screen's — certified
    // here by hashing against d08's OWN oracle.
    NamedQuery(
      "s10_stream_lsh_screen",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toks = TextOps.tokens(col("text"))
        val delta = docs
          .filter(size(toks) >= 20)
          .select(
            (col("doc_id") + 400000L).as("doc_id"),
            concat_ws(" ", slice(toks, 3, 1000000)).as("text"))
        val tmp = java.nio.file.Files.createTempDirectory("s10_delta_")
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          delta.repartition(4).write.mode("overwrite").parquet(inDir)
          val idx = Dedup.lshIndex(docs, shingleN = 3, numHashes = 32, bands = 16)
          val stream = s.readStream
            .schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inDir)
          val (query, state) =
            graft.streaming.StreamingOps.lshScreenStream(idx, stream, minEstJaccard = 0.5)
          try query.processAllAvailable()
          finally query.stop()
          val shaped = state.get()
            .filter(col("delta_id") === col("corpus_id") + 400000L)
            .select("delta_id", "corpus_id")
            .orderBy("corpus_id")
          (shaped.collect().toSeq, shaped.schema)
        } finally deleteRecursively(tmp) }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(d08PlantedPairsSql)),

    // Fuzzy dedup APPLIED end to end (the NeMo-Curator / RefinedWeb
    // shape): plant near-copies (d02's suffix-truncated twins at
    // +100000), find pairs with MinHash+LSH, close them into clusters
    // (connectedComponents), keep the min-id representative per cluster,
    // and EMIT THE SURVIVING CORPUS — the d02→p03 machinery actually
    // purging a corpus rather than reporting pairs. Purge scope is the
    // PLANTED PROJECTION (pairs filtered to the d02-certified twin set,
    // the convention every dedup oracle here uses): the fixture corpus
    // itself contains generator-planted natural near-dups (j ≈ 0.97–0.99
    // pairs — unguarded, the screen correctly purged 24 of 500 originals
    // at sf0.01), whose membership is seeded-hash-dependent at the
    // est ≥ 0.5 boundary and whose exact-Jaccard ground truth is an
    // all-pairs oracle DuckDB cannot afford at sf0.1; d03/d07 certify
    // that regime with exact arithmetic instead. Within the projection
    // the surviving id set is closed form — every original lives, every
    // planted twin dies — and each survivor carries a had_twin flag
    // DERIVED FROM THE ACTUAL VICTIM SET, so hash-green proves no
    // original was lost AND every planted dup was purged, per document,
    // end to end through pairs, closure, representative choice, and the
    // anti-join.
    NamedQuery(
      "d13_dedup_purge",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toksC = TextOps.tokens(col("text"))
        val mutated = docs
          .filter(size(toksC) >= 20)
          .select(
            (col("doc_id") + 100000L).as("doc_id"),
            concat_ws(" ", slice(toksC, 3, 1000000)).as("text"))
        val corpus = docs.unionByName(mutated)
        val pairs = Dedup
          .minhashLsh(corpus, shingleN = 3, numHashes = 32, bands = 16, minEstJaccard = 0.5)
          .filter(col("doc_b") === col("doc_a") + 100000L)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
        val comps = Dedup.connectedComponents(pairs)
        val victims = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        // survivors, each carrying whether ITS planted twin was purged —
        // the flag is derived from the actual victim set, so hash-green
        // pins per-document purge behavior, not just the surviving count
        val purgedTwin = victims
          .select((col("doc_id") - 100000L).as("doc_id"), lit(true).as("had_twin"))
        corpus
          .join(victims, Seq("doc_id"), "left_anti")
          .join(purgedTwin, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("had_twin"), lit(false)).as("had_twin"))
          .orderBy("doc_id")
      },
      Some(
        s"SELECT doc_id, len($duckToks) >= 20 AS had_twin " +
          "FROM documents ORDER BY doc_id")),

    // SEMANTIC (embedding-space) dedup composed end to end — SemDeDup
    // (Dedup.semDedup): cluster assignment → within-cluster cosine pairs
    // → connected components → keep the min-id representative. The
    // corpus has no natural near-dups (max pairwise cosine ≈ 0.51), so
    // each vector v gets TWO planted copies: A = v ± 0.01 (alternating)
    // under v+100000 and B = v ± 0.02 under v+200000 — a CHAIN whose
    // v–A and A–B links always clear the 0.99 bar while v–B sits near
    // the boundary, so CC must genuinely propagate the min label (pair
    // logic alone would under-delete B whenever v–B misses). The cluster
    // assignment is pinned to vec_id % 100 (copies land with their
    // source: 100000 ≡ 200000 ≡ 0 mod 100 — the v08 trick; 100 clusters
    // instead of the original 8 cuts the in-cluster quadratic ~12× and
    // spreads the pair join across the full task width — at sf0.1 the
    // 8-cluster form paid 28M fanned pairs on 8 effective tasks, ~17 s
    // of the old 51 s cost — while provably NOT changing output: no
    // natural pair can reach cos 0.99, so only the in-cluster planted
    // pairs ever cross the bar under either modulus), making the WHOLE
    // pipeline SQL-replayable: DuckDB recomputes the three float32
    // perturbation cosines per vector and resolves 3-node connectivity
    // in closed form. Hash-green certifies pair generation, transitive
    // closure, and representative choice at once; SemDedupSpec pins the
    // real k-means-clustered path against the exact single-cluster one.
    NamedQuery(
      "d09_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        def copy(offset: Long, amp: Float) = emb.select(
          (col("vec_id") + offset).as("vec_id"),
          transform(
            col("embedding"),
            (x, i) => x + when(pmod(i, lit(2)) === 0, lit(amp)).otherwise(lit(-amp)))
            .as("embedding"))
        // the pair join reads its input on both sides — CacheScope drops it
        val all = graft.CacheScope.track(
          emb.unionByName(copy(100000L, 0.01f)).unionByName(copy(200000L, 0.02f)).cache())
        val assign = all.select(col("vec_id"), pmod(col("vec_id"), lit(100L)).as("cluster_id"))
        Dedup.semDedup(all, assign, minCosine = 0.99).orderBy("vec_id")
      },
      Some(
        // DuckDB lambda indices are 1-based vs Spark's 0-based transform:
        // Spark's even positions (+amp) are DuckDB's odd i. FLOAT + FLOAT
        // stays FLOAT, so the perturbed arrays are bit-identical to
        // Spark's float32 arithmetic (the v05 convention).
        "WITH pert AS (SELECT vec_id, embedding AS v, " +
          "list_transform(embedding, (x, i) -> x + CASE WHEN i % 2 = 1 " +
          "THEN CAST(0.01 AS REAL) ELSE CAST(-0.01 AS REAL) END) AS va, " +
          "list_transform(embedding, (x, i) -> x + CASE WHEN i % 2 = 1 " +
          "THEN CAST(0.02 AS REAL) ELSE CAST(-0.02 AS REAL) END) AS vb FROM embeddings), " +
          s"links AS (SELECT vec_id, " +
          s"${duckDot("v", "va")} / (${duckNorm("v")} * ${duckNorm("va")}) >= 0.99 AS e1, " +
          s"${duckDot("v", "vb")} / (${duckNorm("v")} * ${duckNorm("vb")}) >= 0.99 AS e2, " +
          s"${duckDot("va", "vb")} / (${duckNorm("va")} * ${duckNorm("vb")}) >= 0.99 AS e3 " +
          "FROM pert), " +
          // 3-node connectivity in closed form: a copy joins v's component
          // iff a path to v exists; B falls back to A's component when
          // only the A–B edge holds; min id of the component is the rep
          "o AS (SELECT vec_id, vec_id AS rep_id, CAST(1 AS BIGINT) AS kept FROM links " +
          "UNION ALL SELECT vec_id + 100000, " +
          "CASE WHEN e1 OR (e2 AND e3) THEN vec_id ELSE vec_id + 100000 END, " +
          "CAST(CASE WHEN e1 OR (e2 AND e3) THEN 0 ELSE 1 END AS BIGINT) FROM links " +
          "UNION ALL SELECT vec_id + 200000, " +
          "CASE WHEN e2 OR (e1 AND e3) THEN vec_id WHEN e3 THEN vec_id + 100000 " +
          "ELSE vec_id + 200000 END, " +
          "CAST(CASE WHEN e2 OR (e1 AND e3) OR e3 THEN 0 ELSE 1 END AS BIGINT) FROM links) " +
          "SELECT vec_id, rep_id, kept FROM o ORDER BY vec_id")),

    // Exact n-gram Jaccard similarity join, blocked by (source, lang) —
    // fully SQL-expressible set arithmetic, top-20 most similar in-block
    // pairs. The block key bounds the quadratic pair set (the whole point
    // of blocking in dedup): 5× fewer pairs than source-only blocking.
    NamedQuery(
      "d03_ngram_jaccard",
      (s, dir) =>
        Dedup
          .sparseJaccardPairs(
            t(s, dir, "documents").withColumn("blk", concat_ws("|", col("source"), col("lang"))),
            "blk",
            shingleN = 3,
            minJaccard = 0.05,
            // hot-shingle guard ON, bound far above any fixture block's df
            // (≤ block size ≤ corpus size ≪ 10⁴ at sf0.1) — exercises the
            // df-cutoff branch while keeping the output the exact Jaccard
            // the DuckDB oracle computes
            maxDocFreq = 10000L)
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(20)
          .select(col("block").as("blk"), col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard")),
      Some(
        "WITH tok AS (SELECT source || '|' || lang AS blk, doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 2, 0)), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh " +
          s"FROM (SELECT source, lang, doc_id, $duckToks AS w FROM documents)), " +
          "p AS (SELECT a.blk, a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0 " +
          "ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) END AS jaccard " +
          "FROM tok a JOIN tok b ON a.blk = b.blk AND a.doc_id < b.doc_id) " +
          "SELECT blk, doc_a, doc_b, round(jaccard, 4) AS jaccard FROM p WHERE jaccard >= 0.05 " +
          "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20")),

    // SimHash chunk-banding, HASH-CHECKED via an exact algebraic invariant:
    // SimHash votes over the token MULTISET, so token order is invisible to
    // it — a document with its tokens REVERSED has the bit-identical
    // simhash (hamming 0), and a hamming-0 pair is ALWAYS caught by the
    // 16-bit-chunk banding (pigeonhole needs ≤3 differing bits; 0 ≤ 3).
    // Planting each ≥1-token doc reversed under doc_id+100000 therefore
    // yields a deterministic output DuckDB computes exactly — no appeal to
    // hash luck anywhere — and the hash proves the codegen SimHash64 +
    // banding + hamming pipeline end-to-end in the driver loop (beyond the
    // ScalaTest parity oracles). d04 keeps the probabilistic token-drop
    // planting as the rows-only near-dup demo.
    NamedQuery(
      "d05_simhash_reversed",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toks = TextOps.tokens(col("text"))
        val reversed = docs
          .filter(size(toks) >= 1)
          .select(
            (col("doc_id") + 100000L).as("doc_id"),
            concat_ws(" ", reverse(toks)).as("text"))
        Dedup
          .simhashPairs(docs.unionByName(reversed), maxHamming = 0)
          .filter(col("doc_b") === col("doc_a") + 100000L)
          .select("doc_a", "doc_b", "hamming")
          .orderBy("doc_a")
      },
      Some(
        s"SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b, 0 AS hamming " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents) WHERE len(w) >= 1 ORDER BY doc_a")),

    // SimHash near-dup with 16-bit-chunk banding, now HASH-CHECKED end to
    // end. Planted near-dups: last 3 tokens dropped. The caught set (a
    // shared chunk AND hamming ≤ 6) has no closed-form predicate — but it
    // doesn't need one: with a cross-engine-portable token hash (two
    // Karp–Rabin folds packed into 60 bits, TextOps.tokenHashPortable60)
    // the oracle RECOMPUTES every SimHash from raw text by pure integer
    // arithmetic — per-bit ±1 votes over the token hashes, exactly the
    // engine's vote loop — then applies the identical banding predicate
    // ((d >> 16j) & 0xffff = 0 for some chunk j) and hamming bound to the
    // all-pairs xor. The 60-bit hash is the trick that makes the packing
    // portable: bits 60–63 are structurally zero, so the oracle's
    // sum(b << i) never needs DuckDB's checked 1 << 63 (the same wall m05
    // sidestepped by counting bits). The pair join itself is the SAME
    // production banding as d05 (simhashPairsOn); only the token hash
    // differs — the xxhash64 fast path stays pinned by d05's hamming-0
    // invariant and the TextSpec parity suite.
    NamedQuery(
      "d04_simhash_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val base = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        // token-list slice, not a re-join+re-tokenize: tokens have no
        // internal whitespace, so the round-trip would be an identity
        val mutated = base.select(
          (col("doc_id") + 100000L).as("doc_id"),
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 3, lit(1))).as("toks"))
        val sim = base.unionByName(mutated)
          .filter(size(col("toks")) > 0)
          // codegen'd kernel (PortableSimHash64): the HOF composition this
          // is parity-tested against made d04 the suite's slowest query
          .select(col("doc_id"), TextOps.portableSimhash64(col("toks")).as("simhash"))
        // 6, not the 64-bit rule's 10: four of the 60-bit space's bits are
        // structurally equal, which fattens the low-hamming tail — 6 is
        // the threshold where planted recall (~80%) and output volume
        // match the xxhash64 demo this query replaced (measured: h≤6 =
        // 930 pairs / 79% planted at sf0.01 vs the old rule's 3661 / 81%)
        Dedup.simhashPairsOn(sim, maxHamming = 6).orderBy("doc_a", "doc_b")
      },
      Some {
        val kr1 = krSql("t", 7, 131, 1000000007L)
        val kr2 = krSql("t", 11, 137, 998244353L)
        s"WITH tok0 AS (SELECT doc_id, $duckToks AS w FROM documents), " +
          "tokall AS (SELECT doc_id, w FROM tok0 UNION ALL " +
          "SELECT doc_id + 100000, w[1:greatest(len(w) - 3, 1)] FROM tok0), " +
          "tokne AS (SELECT doc_id, w FROM tokall WHERE len(w) >= 1), " +
          s"th AS (SELECT doc_id, unnest(list_transform(w, t -> ($kr1 * 2654435761) % 1000000007 + " +
          s"(($kr2 * 2246822519) % 998244353) * 1073741824)) AS h FROM tokne), " +
          "bits AS (SELECT doc_id, r.i AS i, CASE WHEN sum(CASE WHEN (h >> r.i) & 1 = 1 " +
          "THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b " +
          "FROM th, range(60) r(i) GROUP BY doc_id, r.i), " +
          "sim AS (SELECT doc_id, CAST(sum(b * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS sh " +
          "FROM bits GROUP BY doc_id), " +
          "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, xor(a.sh, b.sh) AS d " +
          "FROM sim a JOIN sim b ON a.doc_id < b.doc_id) " +
          "SELECT doc_a, doc_b, CAST(bit_count(d) AS INT) AS hamming FROM p " +
          "WHERE bit_count(d) <= 6 AND (((d >> 0) & 65535) = 0 OR ((d >> 16) & 65535) = 0 " +
          "OR ((d >> 32) & 65535) = 0 OR ((d >> 48) & 65535) = 0) " +
          "ORDER BY doc_a, doc_b"
      }),

    // Benchmark decontamination (the GPT-3/Pile 5-gram rule): docs 0–9
    // play the benchmark; the training side is the rest of the corpus plus
    // a PLANTED full copy of each benchmark doc under -(doc_id+1) —
    // negative ids cannot collide with real doc_ids at ANY corpus size
    // (the +100000 convention of d01/d02 is safe at fixture scale but
    // would alias real ids in a big corpus). A correct run must flag
    // every planted copy with n_shared = the bench doc's whole shingle
    // set, plus whatever natural 5-gram collisions the small-vocabulary
    // corpus produces — DuckDB computes the identical pair set and
    // overlap counts from first principles, so hash-green proves the
    // broadcast semi-join missed nothing and invented nothing.
    NamedQuery(
      "d06_decontamination",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val bench = docs.filter(col("doc_id") < 10)
        val train = docs
          .filter(col("doc_id") >= 10)
          .unionByName(bench.select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
        Dedup
          .contaminatedDocs(train, bench, shingleN = 5)
          .orderBy("doc_id", "bench_id")
      },
      Some(
        "WITH tok AS (SELECT doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 4, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents)), " +
          "bench AS (SELECT doc_id AS bench_id, sh FROM tok WHERE doc_id < 10), " +
          "train AS (SELECT doc_id, sh FROM tok WHERE doc_id >= 10 " +
          "UNION ALL SELECT -(doc_id + 1) AS doc_id, sh FROM tok WHERE doc_id < 10) " +
          "SELECT t.doc_id, b.bench_id, CAST(len(list_intersect(t.sh, b.sh)) AS BIGINT) AS n_shared " +
          "FROM train t, bench b WHERE len(list_intersect(t.sh, b.sh)) >= 1 " +
          "ORDER BY doc_id, bench_id")),

    // Exact repeated-substring screening (Dedup.repeatedSpanStats — the
    // span-level dedup signal of Lee et al. ACL 2022, cross-document): an
    // 8-token gram is duplicated when ≥2 distinct docs contain it, and
    // each doc reports how much of it is such shared boilerplate. Docs
    // 0–4 are PLANTED as full copies under -(doc_id+1) (the d06 negative-
    // id convention), so every span of those docs is duplicated by
    // construction (dup_ratio 1.0) on top of whatever natural 8-gram
    // repeats the corpus carries; DuckDB recomputes the complete
    // occurrence/frequency/ratio table from first principles, so
    // hash-green proves the gram accounting missed nothing and invented
    // nothing. dup_ratio is a pure int/int double — portable unrounded,
    // rounded to 6 only for display stability.
    NamedQuery(
      "d10_repeated_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs
          .filter(col("doc_id") < 5)
          .select((-(col("doc_id") + 1L)).as("doc_id"), col("text"))
        Dedup
          .repeatedSpanStats(docs.unionByName(planted), w = 8, minDocs = 2)
          .select(
            col("doc_id"), col("n_spans"), col("n_dup_spans"),
            round(col("dup_ratio"), 6).as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some(
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 5), " +
          s"tok AS (SELECT doc_id, $duckToks AS w FROM corpus), " +
          "g AS (SELECT doc_id, unnest(list_transform(" +
          "generate_series(1, greatest(len(w) - 7, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
          "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS s FROM tok), " +
          "dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS nd FROM g GROUP BY s) WHERE nd >= 2) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
          "CAST(sum(CASE WHEN s IN (SELECT s FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans, " +
          "round(CAST(sum(CASE WHEN s IN (SELECT s FROM dup) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio " +
          "FROM g GROUP BY doc_id ORDER BY doc_id")),

    // Shingle-containment join (Dedup.containmentPairs): the asymmetric
    // |A∩B|/|A| that catches a SHORT doc living inside a LONG one where
    // Jaccard stays low (the union is dominated by the long doc). Probes
    // are PLANTED: the first 10 docs truncated to their first-half
    // tokens under -(doc_id+1) — every prefix 3-gram occurs in the
    // source, so each probe must surface its source at containment 1.0,
    // plus whatever natural overlaps the small-vocabulary corpus yields
    // at the 0.5 bar. DuckDB recomputes every probe shingle set, every
    // intersection, and the exact int/int ratio, so hash-green certifies
    // the broadcast semi-join found exactly the true containment pairs.
    NamedQuery(
      "d11_containment",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toks = TextOps.tokens(col("text"))
        val probes = docs
          .filter(col("doc_id") < 10)
          .select(
            (-(col("doc_id") + 1L)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), size(toks) / 2)).as("text"))
        Dedup
          .containmentPairs(docs, probes, shingleN = 3, minContainment = 0.5)
          .select(
            col("probe_id"), col("doc_id"), col("n_shared"),
            round(col("containment"), 6).as("containment"))
          .orderBy("probe_id", "doc_id")
      },
      Some(
        "WITH gram AS (SELECT doc_id, w, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 2, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents)), " +
          "probe AS (SELECT -(doc_id + 1) AS probe_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(h) - 2, 0)), " +
          "i -> h[i] || ' ' || h[i+1] || ' ' || h[i+2])) AS sh " +
          "FROM (SELECT doc_id, w[1 : len(w) // 2] AS h FROM gram WHERE doc_id < 10)), " +
          "pairs AS (SELECT p.probe_id, g.doc_id, " +
          "CAST(len(list_intersect(g.sh, p.sh)) AS BIGINT) AS n_shared, " +
          "CAST(len(list_intersect(g.sh, p.sh)) AS DOUBLE) / len(p.sh) AS containment " +
          "FROM probe p, gram g WHERE len(p.sh) > 0 AND len(list_intersect(g.sh, p.sh)) > 0) " +
          "SELECT probe_id, doc_id, n_shared, round(containment, 6) AS containment " +
          "FROM pairs WHERE containment >= 0.5 ORDER BY probe_id, doc_id")),

    // The span-scrub TRANSFORM (Dedup.scrubRepeatedSpans): d10 found the
    // duplicated spans; this query actually rewrites the corpus with
    // them removed (Lee et al. §4 — edit, don't drop). Same planted
    // corpus as d10, so the planted full copies (and their sources) must
    // come back fully scrubbed (text = '', n_removed = n_tokens) while
    // clean docs pass through untouched. The oracle recomputes every
    // dup-gram start position and re-derives each kept token list with a
    // 1-based indexed lambda mirroring Spark's 0-based one — hash-green
    // certifies the exact rewritten TEXT of every document, not just
    // counts.
    NamedQuery(
      "d12_span_scrub",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs
          .filter(col("doc_id") < 5)
          .select((-(col("doc_id") + 1L)).as("doc_id"), col("text"))
        Dedup
          .scrubRepeatedSpans(docs.unionByName(planted), w = 8, minDocs = 2)
          .orderBy("doc_id")
      },
      Some(
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 5), " +
          s"tok AS (SELECT doc_id, $duckToks AS w FROM corpus), " +
          "g AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
          "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS s " +
          "FROM tok, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)), " +
          "dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS nd FROM g GROUP BY s) WHERE nd >= 2), " +
          "starts AS (SELECT doc_id, list(i) AS st FROM (SELECT DISTINCT doc_id, i FROM g " +
          "WHERE s IN (SELECT s FROM dup)) GROUP BY doc_id), " +
          "joined AS (SELECT t.doc_id, t.w, coalesce(s.st, []) AS st FROM tok t LEFT JOIN starts s USING (doc_id)), " +
          "scrub AS (SELECT doc_id, w, list_filter(w, (x, j) -> " +
          "len(list_filter(st, v -> v <= j AND j < v + 8)) = 0) AS kept FROM joined) " +
          "SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS text, CAST(len(w) AS BIGINT) AS n_tokens, " +
          "CAST(len(w) - len(kept) AS BIGINT) AS n_removed FROM scrub ORDER BY doc_id")),

    // =====================================================================
    // Text analysis (documents)
    // =====================================================================

    // Per-document token statistics + BPE-ish sub-token count.
    NamedQuery(
      "t01_token_stats",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_types"),
            round(TextOps.avgTokenLen(toks), 4).as("avg_tok_len"),
            round(TextOps.typeTokenRatio(toks), 4).as("ttr"),
            TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
          .orderBy("doc_id")
      },
      Some(
        "SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_types, " +
          "round(CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS DOUBLE) / greatest(1, len(w)), 4) AS avg_tok_len, " +
          "round(CAST(len(list_distinct(w)) AS DOUBLE) / greatest(1, len(w)), 4) AS ttr, " +
          raw"len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe " +
          s"FROM (SELECT doc_id, text, $duckToks AS w FROM documents) ORDER BY doc_id")),

    // Corpus-level top-20 word bigrams.
    NamedQuery(
      "t02_top_bigrams",
      (s, dir) =>
        TextOps.shingleRows(t(s, dir, "documents"), 2, distinctSet = false)
          .groupBy(col("s").as("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20),
      Some(
        "SELECT bigram, count(*) AS n FROM (SELECT unnest(list_transform(" +
          "generate_series(1, greatest(len(w) - 1, 0)), i -> w[i] || ' ' || w[i+1])) AS bigram " +
          s"FROM (SELECT $duckToks AS w FROM documents)) GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20")),

    // Per-document quality scoring (Gopher/C4-style heuristic filters).
    NamedQuery(
      "t03_quality_scores",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            round(TextOps.punctRatio(col("text")), 4).as("punct_ratio"),
            round(TextOps.digitRatio(col("text")), 4).as("digit_ratio"),
            round(TextOps.stopwordRatio(toks), 4).as("stop_ratio"),
            f32round(TextOps.qualityScore(col("text")), 4).as("quality"))
          .orderBy("doc_id")
      },
      Some {
        val stopList = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        "SELECT doc_id, len(w) AS n_tokens, round(punct_ratio, 4) AS punct_ratio, " +
          "round(digit_ratio, 4) AS digit_ratio, round(stop_ratio, 4) AS stop_ratio, " +
          "round(CAST(CAST(greatest(0.0, least(1.0, " +
          "0.3 * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) " +
          "+ 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / greatest(1, len(w))) " +
          "+ 0.2 * least(stop_ratio * 5.0, 1.0) " +
          "- 0.4 * (punct_ratio + digit_ratio) + 0.2)) AS REAL) AS DOUBLE), 4) + 0.0 AS quality " +
          "FROM (SELECT doc_id, w, " +
          raw"CAST(len(regexp_extract_all(text, '[.,;:!?''\"()\[\]{}-]')) AS DOUBLE) / greatest(1, len(text)) AS punct_ratio, " +
          "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(1, len(text)) AS digit_ratio, " +
          s"CAST(len(list_filter(w, x -> list_contains($stopList, x))) AS DOUBLE) / greatest(1, len(w)) AS stop_ratio " +
          s"FROM (SELECT doc_id, text, $duckToks AS w FROM documents)) ORDER BY doc_id"
      }),

    // Marker-stopword language ID vs the fixture's lang column.
    NamedQuery(
      "t04_langid",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("predicted"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "predicted"),
      Some {
        def score(l: String): String = {
          val markers = TextOps.LangMarkers.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(w, x -> list_contains($markers, x))) AS s_$l"
        }
        "SELECT lang, predicted, count(*) AS n_docs FROM (" +
          "SELECT lang, CASE " +
          "WHEN s_en = best AND best > 0 THEN 'en' " +
          "WHEN s_es = best AND best > 0 THEN 'es' " +
          "WHEN s_fr = best AND best > 0 THEN 'fr' " +
          "WHEN s_de = best AND best > 0 THEN 'de' " +
          "ELSE 'und' END AS predicted FROM (" +
          "SELECT lang, s_en, s_es, s_fr, s_de, greatest(s_en, s_es, s_fr, s_de) AS best FROM (" +
          s"SELECT lang, ${score("en")}, ${score("es")}, ${score("fr")}, ${score("de")} " +
          s"FROM (SELECT lang, $duckToks AS w FROM documents)))) " +
          "GROUP BY lang, predicted ORDER BY lang, predicted"
      }),

    // Karp–Rabin rolling-hash document fingerprints, full-doc + head-8
    // window. Portable arithmetic (char-codepoint polynomial mod 1e9+7)
    // — DuckDB refolds the identical hash, so hash-green proves the
    // fingerprint bytes, not just row counts. The xxhash64-based fast
    // variant (TextOps.fingerprint) stays the bulk path and is pinned by
    // TextSpec; the SimHash column formerly here is driver-visible through
    // d04/d05.
    NamedQuery(
      "t05_fingerprints",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            TextOps.fingerprintPortable(toks).as("fingerprint"),
            TextOps.fingerprintPortable(slice(toks, 1, 8)).as("fp_head"))
          .orderBy("doc_id")
      },
      Some {
        val tokHash =
          "list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(generate_series(1, len(t)), " +
            "i -> CAST(ord(substring(t, i, 1)) AS BIGINT))), (a, c) -> (a * 131 + c) % 1000000007)"
        s"WITH tk AS (SELECT doc_id, $duckToks AS w FROM documents), " +
          s"h AS (SELECT doc_id, list_transform(w, t -> $tokHash) AS hs FROM tk) " +
          "SELECT doc_id, " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), hs), (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint, " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), hs[1:8]), (a, x) -> (a * 31 + x) % 1000000007) AS fp_head " +
          "FROM h ORDER BY doc_id"
      }),

    // PII scrub over the corpus. The fixture text is a clean word salad,
    // so each doc gets deterministic planted PII (an email, a URL, a long
    // numeric id derived from doc_id); both engines build the same raw
    // string, count matches pre-scrub, and compare the scrubbed result —
    // hash-green means the regex dialects and the replace-all semantics
    // agree end-to-end ('g' flag on the DuckDB side; Spark replaces all by
    // default).
    NamedQuery(
      "t06_pii_redaction",
      (s, dir) => {
        val raw = concat(
          col("text"),
          lit(" contact user"),
          col("doc_id"),
          lit("@example.com see http://site"),
          col("doc_id"),
          lit(".test ref "),
          (col("doc_id") * 7919L + 10007L))
        t(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw"))
          .withColumn("clean", TextOps.redactPii(col("raw")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("raw"), lit(TextOps.EmailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("raw"), lit(TextOps.UrlRe), lit(0))).as("n_urls"),
            size(regexp_extract_all(col("raw"), lit(TextOps.LongNumRe), lit(0))).as("n_longnums"),
            length(col("clean")).as("clean_len"),
            expr("right(clean, 40)").as("clean_tail"))
          .orderBy("doc_id")
      },
      Some(
        "WITH r AS (SELECT doc_id, text || ' contact user' || doc_id || " +
          "'@example.com see http://site' || doc_id || '.test ref ' || " +
          "(doc_id * 7919 + 10007) AS raw FROM documents), " +
          "c AS (SELECT doc_id, raw, regexp_replace(regexp_replace(regexp_replace(raw, " +
          "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
          "'https?://[^\\s]+', '<URL>', 'g'), '[0-9]{4,}', '<NUM>', 'g') AS clean FROM r) " +
          "SELECT doc_id, len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails, " +
          "len(regexp_extract_all(raw, 'https?://[^\\s]+')) AS n_urls, " +
          "len(regexp_extract_all(raw, '[0-9]{4,}')) AS n_longnums, " +
          "length(clean) AS clean_len, right(clean, 40) AS clean_tail " +
          "FROM c ORDER BY doc_id")),

    // Gopher-style repetition filtering (Rae et al. 2021, "Scaling
    // Language Models: ... Gopher", appendix A1.1): natural text repeats
    // itself far less than boilerplate/spam, so the share of the single
    // most frequent token, the share of the most frequent bigram, and the
    // fraction of bigram occurrences that are repeats separate junk from
    // prose. Emitted per doc with a keep flag over the published-style
    // thresholds, computed FROM THE ROUNDED ratios so both engines
    // compare identical doubles. The natural fixture is clean prose (every
    // doc passes), so junk twins — one boilerplate loop per 50 docs — are
    // planted identically on both sides; the filter must keep all real
    // docs AND reject every planted one, making the reject path
    // hash-checked too. Scale shape: two map-side-partial groupBys on
    // narrow (doc_id, term) keys + per-doc joins — never a corpus-wide
    // wide row, never all-pairs.
    NamedQuery(
      "t07_repetition_stats",
      (s, dir) => {
        val real = t(s, dir, "documents")
        val junk = real.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), repeat(lit("spam offer "), 40).as("text"))
        val docs = real.select("doc_id", "text").unionByName(junk)
        // Tokenize the corpus exactly ONCE: all three aggregates (token
        // count, per-token counts, bigram counts) read the same cached
        // (doc_id, toks) projection. The inline form re-ran the tokenizer
        // three times over the full corpus — the cross-aggregate cousin of
        // the per-element re-split trap commit 0490688 fixed in the
        // streaming decontaminator.
        val toks = graft.CacheScope.track(
          docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")).cache())
        val base = toks.select(
          col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        val tokAgg = toks
          .select(col("doc_id"), explode(col("toks")).as("tk"))
          .groupBy("doc_id", "tk").agg(count(lit(1)).as("n"))
          .groupBy("doc_id").agg(max("n").as("top_tok"), sum("n").as("tot_tok"))
        val bigAgg = toks
          .select(col("doc_id"), explode(TextOps.shingles(col("toks"), 2)).as("s"))
          .groupBy("doc_id", "s").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(max("n").as("top_big"), sum("n").as("tot_big"), count(lit(1)).as("dist_big"))
        base
          .join(tokAgg, Seq("doc_id"), "left")
          .join(bigAgg, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("n_tokens"),
            round(coalesce(col("top_tok") / col("tot_tok"), lit(0.0)), 4).as("top_token_share"),
            round(coalesce(col("top_big") / col("tot_big"), lit(0.0)), 4).as("top_bigram_share"),
            round(coalesce(lit(1.0) - col("dist_big") / col("tot_big"), lit(0.0)), 4)
              .as("dup_bigram_frac"))
          .withColumn(
            "keep",
            when(
              col("n_tokens") >= 5 && col("top_token_share") <= 0.3 &&
                col("top_bigram_share") <= 0.18 && col("dup_bigram_frac") <= 0.4,
              1L).otherwise(0L))
          .orderBy("doc_id")
      },
      Some(
        "WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 200000 AS doc_id, repeat('spam offer ', 40) AS text " +
          "FROM documents WHERE doc_id % 50 = 0), " +
          s"tok AS (SELECT doc_id, $duckToks AS w FROM all_docs), " +
          "base AS (SELECT doc_id, len(w) AS n_tokens FROM tok), " +
          "tokc AS (SELECT doc_id, t, count(*) AS n FROM " +
          "(SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t), " +
          "toka AS (SELECT doc_id, max(n) AS top_tok, sum(n) AS tot_tok FROM tokc GROUP BY doc_id), " +
          "bigc AS (SELECT doc_id, b, count(*) AS n FROM (SELECT doc_id, " +
          "unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)), i -> w[i] || ' ' || w[i+1])) AS b " +
          "FROM tok) GROUP BY doc_id, b), " +
          "biga AS (SELECT doc_id, max(n) AS top_big, sum(n) AS tot_big, count(*) AS dist_big FROM bigc GROUP BY doc_id), " +
          "m AS (SELECT b.doc_id, b.n_tokens, " +
          "round(coalesce(CAST(top_tok AS DOUBLE) / tot_tok, 0.0), 4) AS top_token_share, " +
          "round(coalesce(CAST(top_big AS DOUBLE) / tot_big, 0.0), 4) AS top_bigram_share, " +
          "round(coalesce(1.0 - CAST(dist_big AS DOUBLE) / tot_big, 0.0), 4) AS dup_bigram_frac " +
          "FROM base b LEFT JOIN toka USING (doc_id) LEFT JOIN biga USING (doc_id)) " +
          "SELECT doc_id, n_tokens, top_token_share, top_bigram_share, dup_bigram_frac, " +
          "CAST(CASE WHEN n_tokens >= 5 AND top_token_share <= 0.3 " +
          "AND top_bigram_share <= 0.18 AND dup_bigram_frac <= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
          "FROM m ORDER BY doc_id")),

    // LSH-bucketed approximate cosine k-NN join (KnnJoin.lsh) — the
    // index-free ANN scale path the pipeline brief names next to IVF.
    // Queries are planted near-identical perturbations of corpus vectors,
    // so each query's expected rank-1 hit is its source vector. Plane
    // hashes aren't SQL-portable, but the acceptance facts are — the
    // v02/v06 bound-flag shape: corpus membership of every returned id,
    // exactly k contiguous ranks per query, cosine monotone non-
    // increasing in rank, and ≥90% of queries recovering their source
    // vector at rank 1 (the bar KnnJoinSpec pins; observed 100% across
    // sfs — the planted pair's cos ≈ 0.9997 vs ≈ 0.51 max natural).
    // The oracle states the expected flag row → hash-green certifies
    // the LSH ANN path end to end in the driver record.
    NamedQuery(
      "v10_lsh_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val queries = emb.filter(col("vec_id") < 20).select(
          col("vec_id").as("query_id"),
          transform(
            col("embedding"),
            (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.003f)).otherwise(lit(-0.003f))).as("qvec"))
        // read three times (shape, membership, rank-1 hits) — CacheScope
        // drops it after the query
        val res = graft.CacheScope.track(
          graft.index.KnnJoin.lsh(queries, emb, dim, k = 5).cache())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")
        val shape = res
          .withColumn("prev_c", lag(col("cos"), 1).over(w))
          .groupBy("query_id")
          .agg(
            count(lit(1)).as("n"),
            min("rank").as("r0"),
            max("rank").as("r1"),
            min(when(col("prev_c").isNull || col("cos") <= col("prev_c"), 1L)
              .otherwise(0L)).as("mono"))
          .agg(
            count(lit(1)).as("n_queries"),
            sum("n").as("n_rows"),
            min(when(col("n") === 5 && col("r0") === 1 && col("r1") === 5, 1L)
              .otherwise(0L)).as("shape_ok"),
            min("mono").as("monotone_ok"))
        val member = res
          .join(emb.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        val rank1 = res
          .filter(col("rank") === 1)
          .agg(sum(when(col("vec_id") === col("query_id"), 1L).otherwise(0L)).as("hits"))
          .select(when(col("hits") >= 18L, 1L).otherwise(0L).as("rank1_ok"))
        shape.crossJoin(member).crossJoin(rank1)
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows, " +
          "CAST(1 AS BIGINT) AS shape_ok, CAST(1 AS BIGINT) AS monotone_ok, " +
          "CAST(1 AS BIGINT) AS member_ok, CAST(1 AS BIGINT) AS rank1_ok")),

    // LSH-vs-exact recall@k — the acceptance metric for the index-free LSH
    // ANN path, mirroring v06's role for the IVF path: same corpus-member
    // queries, recall of KnnJoin.lsh's top-10 against the exact top-10
    // (L2 order ≡ cosine order on the unit-normalized fixture). Puts a
    // number on the sketch-probabilistic recall claim in KnnJoin.lsh's
    // contract. Plane hashes aren't SQL-portable → rows-only; KnnJoinSpec
    // pins the recall bar.
    NamedQuery(
      "v11_lsh_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val qs = embQueries(s, dir, 20)
        val lsh = graft.index.KnnJoin.lsh(qs, emb, dim, k = 10, nPlanes = 32, bands = 8)
        // recallAtK reads the exact side twice (intersection + denominator)
        // — cached like v14's, or the full corpus scan runs twice inside
        // one query (CacheScope drops it after)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        // bound-certified like v06: observed 0.695-0.755 across sfs vs
        // the 0.5 bar KnnJoinSpec pins for this exact config
        IvfSearch
          .recallAtK(lsh, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .select(
            col("n_queries"),
            when(col("m") >= 0.5, 1L).otherwise(0L).as("recall_ok"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok")),

    // Multi-probe LSH vs single-probe (KnnJoin.lshMultiProbe, Lv et al.
    // VLDB 2007): every band also probes the r buckets one sign-flip
    // away — the buckets a true neighbor most likely landed in when one
    // hyperplane voted wrong. Perturbation is entirely QUERY-side (bit
    // flips before the bucket hash), so the corpus sketch/band/join is
    // byte-identical to v10/v11's — more recall without touching the
    // index, which is the scale story. Bound-certified like v11: the
    // multi-probe recall must clear a bar single-probe does NOT
    // (observed single ≈ 0.70-0.76, multi ≈ 0.93-0.97 at this config),
    // and must dominate single-probe (candidate superset, spec-pinned).
    NamedQuery(
      "v25_lsh_multiprobe",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val qs = embQueries(s, dir, 20)
        val single = graft.index.KnnJoin.lsh(qs, emb, dim, k = 10, nPlanes = 32, bands = 8)
        val multi = graft.index.KnnJoin.lshMultiProbe(qs, emb, dim, k = 10, nPlanes = 32, bands = 8)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        val rs = IvfSearch.recallAtK(single, exact, 10, qs).agg(avg("recall").as("r_single"))
        val rm = IvfSearch.recallAtK(multi, exact, 10, qs).agg(avg("recall").as("r_multi"))
        rs.crossJoin(rm)
          .select(
            lit(20L).as("n_queries"),
            when(col("r_multi") >= col("r_single"), 1L).otherwise(0L).as("multi_dominates"),
            when(col("r_multi") >= 0.85, 1L).otherwise(0L).as("recall_ok"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS multi_dominates, " +
          "CAST(1 AS BIGINT) AS recall_ok")),

    // PQ-vs-exact recall@k — the acceptance metric for the COMPRESSED
    // vector path: 16-byte ADC codes standing in for 256-byte float32
    // vectors (16×), searched via per-query lookup tables and the same
    // bounded-heap top-k as the exact scan, then an EXACT RE-RANK of the
    // ADC top-100 (the standard second IVFADC refinement, Jégou et al.
    // 2011): ADC only has to get the true neighbors into its top-100, and
    // the bounded gather join rescores those 100 floats exactly. Both
    // recalls are reported — mean_recall_adc is what the codes alone buy
    // (the fixture is UNIT-RANDOM, the hardest PQ regime: raw ADC@10
    // ≈ 0.52 at 16×16), mean_recall is the shipped re-ranked path.
    // Codebooks are k-means state → rows-only; PqSpec pins ADC exactness
    // on codeword-built vectors and recall bars for both stages.
    NamedQuery(
      "v12_pq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val model = pqFor(s, dir)
        val codes = Pq.encode(emb, model)
        val qs = embQueries(s, dir, 20)
        // density-aware candidate depth (Pq.adaptiveDepth): 100 at the
        // calibrated 2,000-row operating point, scaling linearly with the
        // corpus — the fixed top-100 cut failed the 0.8 bar on the 10×
        // scale-up corpus (DepthProbe: 1000-deep restores 0.955 there)
        val n = emb.count()
        val adc = Pq.adcTopK(codes, model, qs, k = Pq.adaptiveDepth(n, 100))
        val reranked = Pq.rerankExact(adc, emb, qs, k = 10)
        // two recallAtK calls × two reads each = four exact-side scans
        // without the cache (CacheScope drops it after)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        // Bound-certified like v06: re-ranked observed 0.87-0.96 across
        // sfs vs the 0.8 bar. The raw-codes floor is measured at constant
        // RELATIVE depth (10 candidates per 2,000 rows — the
        // density-invariant formulation; a fixed rank-10 cut decays with
        // density no matter the codes): observed 0.345-0.52 at 1× and
        // 0.675 at 10× vs the 0.3 floor — the re-rank's whole point is
        // the gap between the two recalls.
        val adcRecall = IvfSearch
          .recallAtK(adc.filter(col("rank") <= Pq.adaptiveDepth(n, 10)), exact, 10, qs)
          .agg(avg("recall").as("m_adc"))
        IvfSearch
          .recallAtK(reranked, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .crossJoin(adcRecall)
          .select(
            col("n_queries"),
            when(col("m") >= 0.8, 1L).otherwise(0L).as("rerank_ok"),
            when(col("m_adc") >= 0.3, 1L).otherwise(0L).as("adc_ok"),
            lit(model.m.toLong).as("bytes_per_vec"),
            lit(model.dim.toLong * 4L).as("bytes_raw"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS rerank_ok, " +
          "CAST(1 AS BIGINT) AS adc_ok, CAST(16 AS BIGINT) AS bytes_per_vec, " +
          "CAST(256 AS BIGINT) AS bytes_raw")),

    // IVF + PQ composed — the 100 TB flagship shape, now full IVFADC
    // (Jégou et al. 2011): the APS probe set prunes which partitions are
    // read at all; inside them, byte codes quantize RESIDUALS against the
    // owning partition's centroid (residuals concentrate near 0, so the
    // same codebook budget covers them far more densely than raw points),
    // scored via per-(query, partition) lookup tables; the ADC top-100 then
    // pays one bounded exact gather join to re-rank (same plan shape as
    // v08). Scan cost drops on BOTH axes (partitions visited × bytes per
    // vector) and recall recovers to near the float IVF path's. The probe
    // set and candidate set are broadcast — the corpus is never shuffled.
    // Index + codebook state → rows-only; PqSpec pins the composed recall
    // floor.
    NamedQuery(
      "v13_ivf_pq_search",
      (s, dir) => {
        val model = indexFor(s, dir)
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val pq = pqResidualFor(s, dir)
        val cents = model.partitions.map(p => p.pid -> p.centroid).toMap
        // saved-artifact read, not an in-query corpus re-encode
        val codes = residualCodesFor(s, dir)
        val qs = embQueries(s, dir, 20)
        // cached: the depth aggregate is an action and the probed scan
        // re-reads the same probe set (CacheScope drops it after)
        val probes = graft.CacheScope.track(
          IvfSearch.chooseProbes(model, qs, IvfSearch.Params(k = 10)).cache())
        // density-aware depth from the MAX probed count (the residual-ADC
        // ordering only ranks the probed cells — total-corpus depth would
        // be O(n) per-query rerank work); the fixed top-100 failed the
        // bar at 10× density
        val depth = Pq.adaptiveDepthProbed(probes, 100)
        val adc = Pq.ivfAdcResidualTopK(codes, pq, cents, probes.select("query_id", "partition_id"), qs, k = depth)
        val approx = Pq.rerankExact(adc, emb, qs, k = 10)
        // recallAtK reads the exact side twice — cache it (CacheScope
        // drops it after)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        // bound-certified like v12: observed 0.86-0.96 across sfs vs 0.8
        IvfSearch
          .recallAtK(approx, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .select(
            col("n_queries"),
            when(col("m") >= 0.8, 1L).otherwise(0L).as("recall_ok"),
            lit(pq.m.toLong).as("bytes_per_vec"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok, " +
          "CAST(16 AS BIGINT) AS bytes_per_vec")),

    // The four KnnJoin backends side by side under ONE output contract —
    // the operator a user actually reaches for ("join these tables on
    // nearest neighbor") with its accuracy menu measured end-to-end:
    // exact (the oracle, recall 1 by construction), ivf (float scan of
    // probed partitions), lsh (index-free sketch buckets), pq (IVFADC
    // 16× compressed scan + exact re-rank), sq (int8 4× compressed scan
    // + exact re-rank). One row per backend so the driver record shows
    // the recall each strategy buys at this operating point.
    // Index / plane / codebook state → rows-only; KnnJoinSpec pins the
    // pq and sq backends' bars and the exact-backend identity.
    NamedQuery(
      "v14_knn_backends",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val model = indexFor(s, dir)
        val qs = embQueries(s, dir, 20)
        // the exact result is both a backend row AND the reference side of
        // all four recallAtK calls — cached, or the full corpus scan runs
        // five times inside one query (CacheScope drops it after)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        // saved-artifact read, not an in-query corpus re-encode
        val codes = residualCodesFor(s, dir)
        val sqModel = sqFor(s, dir)
        val backends: Seq[(String, DataFrame)] = Seq(
          "exact" -> exact,
          "ivf" -> graft.index.KnnJoin.ivf(model, qs, 10),
          "lsh" -> graft.index.KnnJoin.lsh(qs, emb, dim, k = 10, nPlanes = 32, bands = 8),
          "pq" -> graft.index.KnnJoin.pq(model, pqResidualFor(s, dir), codes, qs, 10),
          "sq" -> graft.index.KnnJoin.sq(sqModel, Sq.encode(emb, sqModel), qs, emb, 10))
        // per-backend acceptance bars, bound-certified like v06 (observed
        // across sfs: exact 1.0 by construction, ivf 0.97-0.975,
        // lsh 0.695-0.755, pq 0.86-0.96, sq 1.0)
        val bars = Map("exact" -> 1.0, "ivf" -> 0.9, "lsh" -> 0.5, "pq" -> 0.8, "sq" -> 0.95)
        backends
          .map { case (name, res) =>
            IvfSearch
              .recallAtK(res, exact, 10, qs)
              .agg(avg("recall").as("m"))
              .select(
                lit(name).as("backend"),
                when(col("m") >= bars(name), 1L).otherwise(0L).as("recall_ok"))
          }
          .reduce(_.unionByName(_))
          .orderBy("backend")
      },
      Some(
        "SELECT unnest(['exact','ivf','lsh','pq','sq']) AS backend, " +
          "CAST(1 AS BIGINT) AS recall_ok ORDER BY backend")),

    // Int8 scalar quantization (the 4× compression tier below Pq's 16×),
    // hash-checked END-TO-END: per-dimension min/max grid → byte codes →
    // asymmetric ADC top-k, every step pure deterministic double
    // arithmetic (no seeds, no iteration) — so unlike the k-means-seeded
    // PQ/IVF paths the ORACLE RECOMPUTES THE ENTIRE COMPRESSED-SEARCH
    // PIPELINE from first principles: the same grid, the same floor/clamp
    // code assignment, the same lower-edge dequantized distances. A
    // hash-green row set certifies the quantizer, the code table, and the
    // ADC scan all at once. Op order is the contract (both engines fold
    // (v−min)·255/scale, then floor, then clamp; distances squeeze
    // through f32round like every float crossing the oracle).
    NamedQuery(
      "v15_sq_adc_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val model = sqFor(s, dir)
        val codes = Sq.encode(emb, model)
        Sq.adcTopK(codes, model, embQueries(s, dir, 5), k = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH st AS (SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn, " +
          "max(CAST(embedding[i] AS DOUBLE)) AS mx FROM embeddings CROSS JOIN " +
          "(SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS i) g " +
          "GROUP BY i), " +
          "m AS (SELECT list(mn ORDER BY i) AS mins, list(mx - mn ORDER BY i) AS scales FROM st), " +
          "q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          "c AS (SELECT e.vec_id, list_transform(generate_series(1, len(e.embedding)), i -> " +
          "CASE WHEN m.scales[i] > 0 THEN least(255.0, greatest(0.0, " +
          "floor((CAST(e.embedding[i] AS DOUBLE) - m.mins[i]) * 255.0 / m.scales[i]))) " +
          "ELSE 0.0 END) AS code FROM embeddings e CROSS JOIN m), " +
          "d AS (SELECT q.query_id, c.vec_id, list_sum(list_transform(generate_series(1, len(q.qvec)), i -> " +
          "(CAST(q.qvec[i] AS DOUBLE) - (m.mins[i] + c.code[i] * m.scales[i] / 255.0)) * " +
          "(CAST(q.qvec[i] AS DOUBLE) - (m.mins[i] + c.code[i] * m.scales[i] / 255.0)))) AS dist2 " +
          "FROM q CROSS JOIN c CROSS JOIN m), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // IVF + SQ composed — the 4× sibling of v13's IVFADC shape and
    // arguably the most practical 100 TB configuration: APS probe
    // pruning decides WHICH partitions are read, int8 codes decide how
    // many BYTES each read costs, and because the grid is corpus-global
    // (no per-partition residuals) pruning never changes a code's value
    // — full-probe ≡ the plain v15 scan, spec-pinned. Grid and codes are
    // served from their saved artifacts (Sq.save/saveCodes → load), the
    // deploy-once-reuse contract, with the code table partitioned by
    // partition_id so probed searches read only probed files. ADC top-30
    // re-ranked exactly (bounded gather join). Probe set = k-means state
    // → rows-only; SqSpec pins the identity and the recall floor.
    NamedQuery(
      "v16_ivf_sq_search",
      (s, dir) => {
        val model = indexFor(s, dir)
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val path = sqArtifactsFor(s, dir)
        val sqm = Sq.load(path, s)
        val codes = Sq.loadCodes(s, path)
        val qs = embQueries(s, dir, 20)
        val probes = IvfSearch.chooseProbes(model, qs, IvfSearch.Params(k = 10))
        val adc = Sq.ivfAdcTopK(codes, sqm, probes.select("query_id", "partition_id"), qs, k = 30)
        val approx = Pq.rerankExact(adc, emb, qs, k = 10)
        // recallAtK reads the exact side twice — cache it (CacheScope
        // drops it after)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        // bound-certified like v06: observed 0.97-0.975 across sfs vs 0.9
        IvfSearch
          .recallAtK(approx, exact, 10, qs)
          .agg(count(lit(1)).as("n_queries"), avg("recall").as("m"))
          .select(
            col("n_queries"),
            when(col("m") >= 0.9, 1L).otherwise(0L).as("recall_ok"),
            lit(sqm.dim.toLong).as("bytes_per_vec"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok, " +
          "CAST(64 AS BIGINT) AS bytes_per_vec")),

    // Perceptual image dedup, hash-checked END-TO-END: real PNG bytes are
    // encoded on executors (blocky gray pattern images whose 8×8-px
    // blocks land exactly on the dHash grid cells), decoded back through
    // the REAL JDK ImageIO codec, block-mean downscaled, dHashed (64-bit
    // gradient-sign fingerprint), and near-dup pairs found by the banded
    // Hamming join — while the DuckDB oracle predicts every pixel, hash
    // bit, and pair by PURE ARITHMETIC (the pattern generator is exact
    // integer math and PNG is lossless, so decode ≡ construction). With
    // maxHamming 7 < 8 bands the banding is pigeonhole-EXACT, so the
    // engine's bucketed join must equal the oracle's all-pairs popcount:
    // one planted jittered twin per 4 base images, 10 pairs expected.
    // The oracle sidesteps DuckDB's checked 1<<63 by counting differing
    // bits directly instead of packing the hash.
    NamedQuery(
      "m05_image_dhash_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") < 40)
          .select(col("doc_id").as("asset_id"), col("doc_id").as("seed"), lit(0).as("jitter"))
        val twins = docs.filter(col("doc_id") < 40 && col("doc_id") % 4 === 0)
          .select((col("doc_id") + 500L).as("asset_id"), col("doc_id").as("seed"), lit(1).as("jitter"))
        val imgs = MultimodalOps.encodePatternImages(base.unionByName(twins))
        val hashes = MultimodalOps.dHash64(imgs, "asset_id", "content")
        graft.text.Dedup.dhashPairs(hashes, maxHamming = 7)
          .orderBy("id_a", "id_b")
      },
      Some(
        "WITH specs AS (" +
          "SELECT doc_id AS asset_id, doc_id AS seed, 0 AS jitter FROM documents WHERE doc_id < 40 " +
          "UNION ALL SELECT doc_id + 500, doc_id, 1 FROM documents WHERE doc_id < 40 AND doc_id % 4 = 0), " +
          "grid AS (SELECT asset_id, jitter, x, y, seed*31 + x*7 + y*13 AS a " +
          "FROM specs, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)), " +
          "cells AS (SELECT asset_id, x, y, " +
          "(a*a*7 + a*13) % 241 + jitter * (((a*a*3 + a*5) % 241) % 16) AS v FROM grid), " +
          "bits AS (SELECT c1.asset_id, c1.x, c1.y, CASE WHEN c2.v > c1.v THEN 1 ELSE 0 END AS b " +
          "FROM cells c1 JOIN cells c2 ON c2.asset_id = c1.asset_id AND c2.y = c1.y AND c2.x = c1.x + 1 " +
          "WHERE c1.x < 8) " +
          "SELECT a.asset_id AS id_a, b.asset_id AS id_b, " +
          "CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming " +
          "FROM bits a JOIN bits b ON a.x = b.x AND a.y = b.y AND a.asset_id < b.asset_id " +
          "GROUP BY id_a, id_b HAVING hamming <= 7 ORDER BY id_a, id_b")),

    // =====================================================================
    // Structured Streaming (driver-visible)
    // =====================================================================

    // The batch q15 aggregation executed AS A STREAM, fed from a FILE
    // source — the production shape: the events fixture is staged to a
    // parquet directory (an executor-side write, NO driver collect of the
    // table), `readStream` discovers it, and the rows flow through the
    // watermark + tumbling-window plan (StreamingOps.windowedEventStats),
    // append-mode into a memory sink; a one-row sentinel file lands later
    // to advance the watermark so every real window closes and emits.
    // Because all real rows arrive in one micro-batch, nothing is late →
    // the emitted windows must equal the batch group-by, which is exactly
    // what the DuckDB oracle computes. This makes the streaming surface
    // (file source → watermark → stateful agg → sink) hash-checked, not
    // test-only.
    NamedQuery(
      "s01_streaming_event_stats",
      (s, dir) => {
        import s.implicits._
        val evBatch = t(s, dir, "events")
          .select(col("ts"), col("event_type"), col("value").cast("double"))
        val tmp = java.nio.file.Files.createTempDirectory("s01_events_")
        val qname = s"s01_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          evBatch.write.mode("overwrite").parquet(inDir)
          val events = s.readStream.schema(evBatch.schema).parquet(inDir)
          val out = graft.streaming.StreamingOps
            .windowedEventStats(events, watermarkDelay = "1 hour", windowLen = "1 day")
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable()
            // sentinel: one aggregated max (a 1-row driver value, not a table
            // collect) pushed far past the horizon closes every real window
            val maxTs = evBatch.agg(max(col("ts"))).head().getTimestamp(0)
            Seq((new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000), "__sentinel", 0.0))
              .toDF("ts", "event_type", "value").write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val shaped = s.table(qname)
            .filter(col("event_type") =!= "__sentinel")
            .select(
              date_format(col("window_start"), "yyyy-MM-dd").as("day"),
              col("event_type"),
              col("n_events"),
              round(col("sum_value"), 2).as("sum_value"),
              round(col("min_value"), 2).as("min_value"),
              round(col("max_value"), 2).as("max_value"))
            .orderBy("day", "event_type")
          // detach the result from the sink view so the sink's full result
          // set doesn't stay pinned in driver memory for the JVM lifetime
          // (each run registers a fresh uniquely-named view)
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          // the memory-sink view and the staged source dir must not outlive
          // the query — on the failure path too
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n_events, " +
          "round(sum(value),2) AS sum_value, round(min(value),2) AS min_value, round(max(value),2) AS max_value " +
          "FROM events GROUP BY 1, 2 ORDER BY day, event_type")),

    // The q22 gap-sessionization executed AS A STREAM with CUSTOM state —
    // the flatMapGroupsWithState surface (windowed aggs can't express
    // "session ends 30 min after the LAST event"). Same file-source shape
    // as s01: the events fixture stages to a parquet dir, sessions close
    // inline on gap-exceed, and two sentinel files advance the watermark so
    // the event-time timeout flushes every user's open tail. All real rows
    // arrive in one micro-batch → emitted sessions must equal the batch
    // q22 result, which is exactly what the DuckDB oracle computes.
    //
    // Cost profile (measured at sf0.1, warm): staging 0.4 s, query start
    // 0.1 s, main micro-batch 3.5 s, the two sentinel cycles 4-6 s (they
    // fire every user's event-time timeout — i.e. CLOSE AND EMIT all
    // ~9.5k sessions — plus a state-store load/commit per cycle), stop
    // 0.3 s. The bench time is state machinery doing real work, not
    // query-startup overhead to amortize away.
    NamedQuery(
      "s03_streaming_sessions",
      (s, dir) => {
        import s.implicits._
        val evBatch = t(s, dir, "events")
          .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"), col("event_id"))
        val gapUs = 30L * 60 * 1000000L
        val tmp = java.nio.file.Files.createTempDirectory("s03_events_")
        val qname = s"s03_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          evBatch.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(evBatch.schema).parquet(inDir)
            .withWatermark("ts", "1 minute")
            .as[graft.streaming.SessionEvent]
          val out = graft.streaming.StreamingOps.sessionize(stream, gapUs)
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable()
            val maxUs = evBatch.agg(max("us")).head().getLong(0)
            def sentinel(days: Long, eid: Long) = Seq(
              (-1L, new java.sql.Timestamp(maxUs / 1000L + days * 24 * 3600 * 1000), maxUs + eid, -eid))
              .toDF("user_id", "ts", "us", "event_id")
            // two sentinel batches: the first advances the watermark, the
            // second triggers the cycle that observes it having advanced
            sentinel(40L, 1L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
            sentinel(80L, 2L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val shaped = s.table(qname)
            .filter(col("user_id") >= 0)
            .select("user_id", "session_idx", "n_events", "start_us", "dur_us")
            .orderBy("user_id", "session_idx")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        // identical to the q22 batch oracle — the stream must reproduce it
        "SELECT user_id, session_idx, count(*) AS n_events, min(us) AS start_us, " +
          "max(us) - min(us) AS dur_us FROM (" +
          "SELECT user_id, us, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM (" +
          "SELECT user_id, event_id, us, CASE WHEN prev IS NULL OR us - prev > 30*60*1000000 " +
          "THEN 1 ELSE 0 END AS is_new FROM (" +
          "SELECT user_id, event_id, epoch_us(ts) AS us, " +
          "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev " +
          "FROM events))) GROUP BY user_id, session_idx ORDER BY user_id, session_idx")),

    // Streaming exact dedup with watermark-bounded state: the d01 corpus
    // (documents + planted doc_id%5 copies) arrives from a parquet FILE
    // source, flows through dropDuplicatesWithinWatermark on the content
    // hash (StreamingOps.dedupExact — state expires at the watermark, so
    // an unbounded feed holds only the horizon's keys), and the surviving
    // rows are projected to the hash alone: WHICH copy survives is
    // arrival-order-dependent, the distinct hash SET is not — and that set
    // must equal the batch DISTINCT the DuckDB oracle computes. The
    // watermark horizon (48 h) deliberately exceeds the planted copies'
    // event-time offset (+100000 s ≈ 27.8 h), so the originals' dedup
    // state is still alive when the copies arrive under ANY trigger
    // slicing (e.g. maxFilesPerTrigger) — with a shorter horizon the
    // set-equivalence would silently depend on the file source happening
    // to deliver everything in one micro-batch.
    NamedQuery(
      "s04_streaming_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        val feed = docs.unionByName(planted).select(
          timestamp_micros(col("doc_id") * 1000000L).as("ts"),
          sha2(col("text"), 256).as("content_hash"))
        val tmp = java.nio.file.Files.createTempDirectory("s04_docs_")
        val qname = s"s04_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          feed.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(feed.schema).parquet(inDir)
          val out = graft.streaming.StreamingOps
            .dedupExact(stream, "ts", Seq("content_hash"), watermarkDelay = "48 hours")
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          // first-seen rows emit immediately in append mode — no sentinel
          // needed to close anything
          try query.processAllAvailable()
          finally query.stop()
          val shaped = s.table(qname).select("content_hash").orderBy("content_hash")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0) " +
          "SELECT DISTINCT sha256(text) AS content_hash FROM all_docs ORDER BY content_hash")),

    // Streaming ingestion end-to-end: perturbed copies of corpus vectors
    // arrive as a MemoryStream, land in the IVF index through the
    // foreachBatch insert path (StreamingOps.ingest — the same IvfMutate
    // code batch writes use), and are then FOUND at rank 1 by an exact
    // search on the post-ingest index. Output = one row per ingested id
    // with its top-1 hit; `found_self` must be true for every row (ids are
    // unique, vectors near-identical to their source but distinct).
    // xxhash routing state isn't SQL-portable → rows-only; StreamingSpec
    // covers the semantics.
    NamedQuery(
      "s02_streaming_ingest",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val model0 = indexFor(s, dir)
        val planted: Array[(Long, Seq[Float])] = t(s, dir, "embeddings")
          .filter(col("vec_id") < 10)
          .select(
            (col("vec_id") + 500000L).as("vec_id"),
            transform(
              col("embedding"),
              (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.001f)).otherwise(lit(-0.001f))).as("embedding"))
          .as[(Long, Seq[Float])].collect()
        val source = MemoryStream[(Long, Seq[Float])]
        val stream = source.toDF().toDF("vec_id", "embedding")
        val finalModel = new java.util.concurrent.atomic.AtomicReference[graft.index.IvfModel](model0)
        val ckptDir = java.nio.file.Files.createTempDirectory("s02_ingest")
        val query = graft.streaming.StreamingOps.ingest(stream, model0, ckptDir.toString, finalModel.set)
        try {
          source.addData(planted.toSeq)
          query.processAllAvailable()
        } finally {
          query.stop()
          // drop the checkpoint state — repeated runs must not accumulate
          // offsets/commits directories under the system temp dir
          deleteRecursively(ckptDir)
        }
        val queries = planted.map { case (id, v) => (id, v) }.toSeq
          .toDF("query_id", "qvec")
        IvfSearch
          .exactTopK(finalModel.get().vectors.select("vec_id", "embedding"), queries, k = 1)
          .select(
            col("query_id"),
            col("vec_id").as("found_id"),
            (col("query_id") === col("vec_id")).as("found_self"))
          .orderBy("query_id")
      },
      // the routing state isn't SQL-portable, but the CONTRACT is constant:
      // each planted vector must be its own rank-1 hit after the streamed
      // ingest — the oracle states those exact 10 rows, so hash-green
      // certifies the end-to-end stream→index→search loop
      Some(
        "SELECT CAST(500000 + i AS BIGINT) AS query_id, " +
          "CAST(500000 + i AS BIGINT) AS found_id, true AS found_self " +
          "FROM range(10) r(i) ORDER BY query_id")),

    // Stream-stream interval join, hash-checked: click→purchase attribution
    // per user within 30 minutes, both sides watermarked so the join state
    // is horizon-bounded (the un-runnable-at-scale alternative — an
    // unwatermarked stream join — buffers both streams forever). The feed
    // is the events fixture staged through a parquet FILE source; the
    // DuckDB oracle computes the identical pair set with a plain batch
    // self-join on microsecond arithmetic (`epoch_us` truncates the
    // fixture's nanos exactly like the `ts div 1000` read path), so
    // hash-green proves the streaming join emitted every qualifying pair
    // exactly once — no duplicates, no watermark-dropped matches.
    NamedQuery(
      "s05_stream_interval_join",
      (s, dir) => {
        val ev = t(s, dir, "events").select("event_id", "user_id", "event_type", "ts")
        val tmp = java.nio.file.Files.createTempDirectory("s05_events_")
        val qname = s"s05_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          ev.write.mode("overwrite").parquet(inDir)
          val src = s.readStream.schema(ev.schema).parquet(inDir)
          val clicks = src
            .filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
          val purchases = src
            .filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          val joined = graft.streaming.StreamingOps.intervalJoin(
            clicks, purchases, "user_id", "click_ts", "purchase_ts",
            watermarkDelay = "1 hour", maxLag = "30 MINUTES")
          val query = joined.writeStream.format("memory").queryName(qname).outputMode("append").start()
          // inner-join matches emit as soon as both sides arrive — no
          // sentinel needed
          try query.processAllAvailable()
          finally query.stop()
          val shaped = s.table(qname)
            .select(
              col("user_id"),
              col("click_id"),
              col("purchase_id"),
              (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
            .orderBy("click_id", "purchase_id")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, " +
          "epoch_us(p.ts) - epoch_us(c.ts) AS lag_us " +
          "FROM events c JOIN events p ON c.user_id = p.user_id " +
          "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
          "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000 " +
          "ORDER BY click_id, purchase_id")),

    // The LEFT OUTER sibling of s05 — the conversion funnel WITH
    // dropouts, and the genuinely distinct streaming semantics: an
    // unmatched click emits (purchase columns null) only once the
    // watermark proves no purchase can still arrive inside the lag
    // window, which is exactly the state-expiry contract the interval
    // condition buys. Two far-future sentinel events (one per side,
    // filtered back out) advance both watermarks so every pending
    // dropout flushes before the sink is read. The DuckDB oracle is the
    // plain batch LEFT JOIN on the same microsecond arithmetic —
    // hash-green proves matches emitted exactly once AND every dropout
    // emitted exactly once, with nothing stuck in state.
    NamedQuery(
      "s11_stream_outer_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events").select("event_id", "user_id", "event_type", "ts")
        val tmp = java.nio.file.Files.createTempDirectory("s11_events_")
        val qname = s"s11_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          ev.write.mode("overwrite").parquet(inDir)
          val src = s.readStream.schema(ev.schema).parquet(inDir)
          val clicks = src
            .filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
          val purchases = src
            .filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          val joined = graft.streaming.StreamingOps.intervalJoin(
            clicks, purchases, "user_id", "click_ts", "purchase_ts",
            watermarkDelay = "1 hour", maxLag = "30 MINUTES", joinType = "left_outer")
          val query = joined.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable()
            // dropouts flush only when the watermark passes click_ts +
            // lag; push BOTH sides' watermarks past the fixture horizon
            val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
            val far = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
            Seq(
              (-1L, -1L, "click", far),
              (-2L, -2L, "purchase", far))
              .toDF("event_id", "user_id", "event_type", "ts")
              .write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val shaped = s.table(qname)
            .filter(col("user_id") >= 0)
            .select(
              col("user_id"),
              col("click_id"),
              col("purchase_id"),
              (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"),
              col("purchase_id").isNotNull.as("converted"))
            .orderBy("click_id", "purchase_id")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, " +
          "epoch_us(p.ts) - epoch_us(c.ts) AS lag_us, p.event_id IS NOT NULL AS converted " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
          "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
          "ON c.user_id = p.user_id " +
          "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000 " +
          "ORDER BY click_id, purchase_id")),

    // Streaming percentile sketch (the GK/QuantileSummaries buffer as
    // complete-mode streaming state — s09's streaming-sketch story
    // applied to quantiles): per-event-type approx_percentile accumulates
    // across micro-batches with state O(sketch), not O(values). Unlike
    // the CMS grid, quantile-summary compression is merge-ORDER
    // dependent, so the streaming estimate need not equal the batch
    // estimate bit-for-bit — but the published rank-error bound holds
    // under any merge order, which is exactly what the q31 bound-flag
    // certifies: the STREAMING estimate must sit within 1% of the exact
    // batch median. Hash-green proves the sketch survived micro-batch
    // slicing with its guarantee intact.
    NamedQuery(
      "s12_stream_percentile",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"), col("value").cast("double").as("value"))
        val tmp = java.nio.file.Files.createTempDirectory("s12_events_")
        val qname = s"s12_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          ev.repartition(4).write.mode("overwrite").parquet(inDir)
          val src = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
          val agg = src
            .groupBy("event_type")
            .agg(
              count(lit(1)).as("n_events"),
              expr("approx_percentile(value, 0.5, 10000)").as("p50_approx"))
          val query = agg.writeStream
            .format("memory").queryName(qname).outputMode("complete").start()
          try query.processAllAvailable()
          finally query.stop()
          val exact = ev.groupBy("event_type")
            .agg(expr("percentile(value, 0.5)").as("p50_exact"))
          val shaped = s.table(qname)
            .join(exact, Seq("event_type"))
            .select(
              col("event_type"),
              col("n_events"),
              round(col("p50_exact"), 4).as("p50_exact"),
              when(abs(col("p50_approx") - col("p50_exact")) / abs(col("p50_exact")) <= 0.01, 1L)
                .otherwise(0L).as("gk_ok"))
            .orderBy("event_type")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, " +
          "round(quantile_cont(value, 0.5), 4) AS p50_exact, " +
          "CAST(1 AS BIGINT) AS gk_ok " +
          "FROM events GROUP BY event_type ORDER BY event_type")),

    // Stream-STATIC broadcast join — the one Structured Streaming join
    // class s01–s05 didn't cover: d06's decontamination rule applied at
    // INGEST time. Training docs (the d06 corpus, planted copies under
    // negative ids included) arrive from a parquet file source; the
    // benchmark 5-gram set is computed once as a STATIC frame and
    // broadcast into the stream; contaminated docs are emitted exactly
    // once via watermark-bounded dedup. The DuckDB oracle computes the
    // same contaminated-id set from first principles (DISTINCT over the
    // d06 pair rule), so hash-green proves the stream flags exactly the
    // docs the batch rule flags — the firehose-vs-denylist shape at
    // 100 TB/day, with state bounded to the dedup horizon.
    NamedQuery(
      "s06_stream_decontamination",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val bench = docs.filter(col("doc_id") < 10)
        val train = docs
          .filter(col("doc_id") >= 10)
          .unionByName(bench.select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
          .select(
            col("doc_id"),
            col("text"),
            timestamp_micros(abs(col("doc_id")) * 1000000L).as("ts"))
        val benchShingles = TextOps
          .shingleRows(bench, 5, distinctSet = true)
          .select("s")
          .distinct()
        val tmp = java.nio.file.Files.createTempDirectory("s06_docs_")
        val qname = s"s06_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          train.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(train.schema).parquet(inDir)
          val out = graft.streaming.StreamingOps
            .decontaminateStream(stream, benchShingles, shingleN = 5, "ts", watermarkDelay = "48 hours")
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          // first-seen rows emit immediately in append mode — no sentinel
          try query.processAllAvailable()
          finally query.stop()
          // exactly-once here rests on dropDuplicatesWithinWatermark state
          // outliving the event-time spread (ts = |doc_id| seconds vs the
          // 48 h horizon — fine up to ~172.8k docs, but corpus size is a
          // fixture knob); a defensive distinct keeps the emitted SET equal
          // to the oracle's DISTINCT even if dedup state ever expires
          // mid-stream on a bigger corpus
          val shaped = s.table(qname).select(col("doc_id").cast("long")).distinct().orderBy("doc_id")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH tok AS (SELECT doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 4, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents)), " +
          "bench AS (SELECT doc_id AS bench_id, sh FROM tok WHERE doc_id < 10), " +
          "train AS (SELECT doc_id, sh FROM tok WHERE doc_id >= 10 " +
          "UNION ALL SELECT -(doc_id + 1) AS doc_id, sh FROM tok WHERE doc_id < 10) " +
          "SELECT DISTINCT t.doc_id FROM train t, bench b " +
          "WHERE len(list_intersect(t.sh, b.sh)) >= 1 ORDER BY doc_id")),

    // Streaming CMS ≡ batch CMS, proven on t09's OWN oracle (the q33/s08
    // batch≡stream technique applied to sketches): the document corpus
    // arrives as 4 single-file micro-batches (maxFilesPerTrigger=1), the
    // 4×512 counter grid accumulates across triggers as complete-mode
    // streaming state — bounded at 2048 cells for ANY stream length,
    // which is the entire reason to sketch a stream — and the final grid
    // serves the same top-20 heavy-hitter estimates as the batch sketch.
    // Counter addition is commutative and micro-batch slicing only
    // re-associates it, so the grids are identical and one oracle
    // certifies both paths.
    NamedQuery(
      "s09_stream_cms",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val tmp = java.nio.file.Files.createTempDirectory("s09_docs_")
        val qname = s"s09_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          docs.repartition(4).write.mode("overwrite").parquet(inDir)
          val stream = s.readStream
            .schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inDir)
          // rebalance each micro-batch before the CPU-dominant
          // tokenize+explode (the shingleRows rule in-stream): one file
          // per trigger = one serial task otherwise
          val toks = stream
            .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .select(explode(TextOps.tokens(col("text"))).as("tok"))
          val grid = graft.streaming.StreamingOps.cmsSketchStream(toks, "tok", depth = 4, width = 512)
          val query = grid.writeStream
            .format("memory").queryName(qname).outputMode("complete").start()
          try query.processAllAvailable()
          finally query.stop()
          val sk = s.table(qname)
          val toksB = docs
            .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .select(explode(TextOps.tokens(col("text"))).as("tok"))
          val top = toksB
            .groupBy("tok").agg(count(lit(1)).as("exact_n"))
            .orderBy(col("exact_n").desc, col("tok"))
            .limit(20)
          val shaped = Cms
            .estimate(top, "tok", sk, depth = 4, width = 512)
            .select(
              col("tok"), col("exact_n"), col("est_n"),
              (col("est_n") - col("exact_n")).as("overcount"))
            .orderBy(col("exact_n").desc, col("tok"))
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(cmsOracleSql)),

    // The adaptive loop CLOSED ONLINE (§7.5's last open item): a stream of
    // queries skewed onto the index's largest partition drives live hit
    // accounting, and maintain() fires inside the stream when that
    // partition's hotness pushes its dynamic split threshold below its
    // size — the reference's adaptivity story with the cadence set by the
    // LOAD, not by the replay protocol's fixed every-50-queries timer.
    // splitSize is 1.4× the largest partition (too big to split cold:
    // threshold starts at splitSize > size) and hotQpsWindow 50 (≈70
    // on-target hits pull the clamped threshold floor 0.933×size under
    // the partition) — so the split can ONLY happen because the stream
    // heated the partition, which the query REQUIREs. mergeSize 0
    // disables merging so the ticks isolate the split axis. The raw tick
    // stream depends on micro-batch slicing and k-means state, but the
    // acceptance facts don't — the v02/v06 bound-flag shape: 200 queries
    // seen in total (robust to slicing: a sum over ticks), the split
    // fired at least once, the partition count grew and never shrank,
    // and the vector multiset survived maintain intact. The oracle
    // states the expected flag row → the streaming-adaptivity loop is
    // certified in the driver record; raw ticks stay in StreamingSpec.
    NamedQuery(
      "s07_adaptive_maintain",
      (s, dir) => {
        val model0 = indexFor(s, dir)
        val target = model0.partitions.maxBy(_.size)
        val splitSize = math.ceil(target.size * 1.4).toLong
        val qvec = target.centroid.zipWithIndex
          .map { case (x, d) => if (d % 2 == 0) x + 0.002f else x - 0.002f }
        val tmp = java.nio.file.Files.createTempDirectory("s07_q_")
        val rows = try {
          val inDir = s"$tmp/in"
          import s.implicits._
          // 8 single-file appends → 8 deterministic micro-batches of 25
          // identical-vector queries under maxFilesPerTrigger=1
          (0 until 8).foreach { f =>
            (0 until 25).map(i => (f * 25L + i, qvec))
              .toDF("query_id", "qvec")
              .coalesce(1)
              .write.mode("append").parquet(inDir)
          }
          val stream = s.readStream
            .schema("query_id LONG, qvec ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir)
          val ticks = scala.collection.mutable.ArrayBuffer
            .empty[graft.streaming.StreamingOps.MaintainTick]
          val (query, state) = graft.streaming.StreamingOps.adaptiveMaintain(
            stream, model0, s"$tmp/ckpt",
            hotQpsWindow = 50.0, splitSize = splitSize, mergeSize = 0L,
            onTick = ticks += _)
          try query.processAllAvailable()
          finally query.stop()
          val finalModel = state.get()
          require(
            finalModel.partitions.length > model0.partitions.length,
            "adaptive maintain never split the heated partition")
          val nQueries = ticks.map(_.n_queries).sum
          val splitOk = finalModel.partitions.length > model0.partitions.length
          val firedOk = ticks.exists(_.maintain_fired)
          val growthOk = ticks.map(_.n_partitions)
            .foldLeft((model0.partitions.length.toLong, true)) {
              case ((prev, ok), n) => (n, ok && n >= prev)
            }._2
          val vectorsOk =
            finalModel.partitions.map(_.size).sum == model0.partitions.map(_.size).sum
          Seq((
            nQueries,
            if (splitOk) 1L else 0L,
            if (firedOk) 1L else 0L,
            if (growthOk) 1L else 0L,
            if (vectorsOk) 1L else 0L))
        } finally deleteRecursively(tmp)
        import s.implicits._
        rows
          .toDF("n_queries", "split_ok", "fired_ok", "growth_ok", "vectors_ok")
          .coalesce(1)
      },
      Some(
        "SELECT CAST(200 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS split_ok, " +
          "CAST(1 AS BIGINT) AS fired_ok, CAST(1 AS BIGINT) AS growth_ok, " +
          "CAST(1 AS BIGINT) AS vectors_ok")),

    // Streaming CDC apply (StreamingOps.applyChangelogStream): the q33
    // changelog arrives as KEY-DISJOINT micro-batches (each key's full
    // history in one batch — the replayed/compacted-changelog contract,
    // so arrival order cannot change the fold) and each batch is merged
    // into the maintained snapshot with the SAME Merge.applyChangelog the
    // batch query runs. The final folded state crosses the IDENTICAL
    // DuckDB oracle as q33 — hash-green proves streaming-incremental ≡
    // batch MERGE over every key of the table.
    NamedQuery(
      "s08_stream_cdc_apply",
      (s, dir) => {
        val snap = ordersSnapshot(s, dir)
        val changes = ordersChangelog(snap)
          .withColumn("batch", pmod(xxhash64(col("o_orderkey")), lit(3)))
        val tmp = java.nio.file.Files.createTempDirectory("s08_ch_")
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          (0 until 3).foreach { b =>
            changes.filter(col("batch") === b).drop("batch")
              .coalesce(1).write.mode("append").parquet(inDir)
          }
          val stream = s.readStream
            .schema(changes.drop("batch").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir)
          val (q, state) = graft.streaming.StreamingOps
            .applyChangelogStream(stream, snap, "o_orderkey", "ord", "op")
          try q.processAllAvailable()
          finally q.stop()
          val shaped = state.get().orderBy("o_orderkey")
          (shaped.collect().toSeq, shaped.schema)
        } finally deleteRecursively(tmp) }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(mergeOracleSql)),

    // =====================================================================
    // Multimodal (binary-column plumbing; decode is a documented stub)
    // =====================================================================

    // REAL compressed-VIDEO stand-in, driver-visible AND hash-checked
    // (round-11 verdict's one non-green row, closed): each document row
    // deterministically defines a short multi-frame animation (size,
    // frame count, and per-frame uniform fill derived from doc_id),
    // executors ENCODE it to a genuine multi-image GIF89a — real LZW
    // compression through the JDK's ImageIO sequence writer —
    // decodeGifFrames DECODES every stored frame with the same codec
    // family, and the frame-derived features (frame count, decoded
    // dimensions, per-frame exact channel means summed over frames) are
    // predictable by construction, so DuckDB oracles the full compressed
    // encode → decode pipeline end-to-end. The 2-entry indexed palette
    // makes every decoded pixel integer-exact; `compressed = 1` pins that
    // the payload really is smaller than the raw RGB frames it carries
    // (LZW on uniform rasters), i.e. the codec genuinely ran.
    NamedQuery(
      "m01_multimodal_features",
      (s, dir) => {
        val nf = (lit(2) + pmod(col("doc_id"), lit(4))).cast("int")
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 400)
          .select(
            col("doc_id").as("asset_id"),
            (lit(8) + pmod(col("doc_id"), lit(13))).cast("int").as("width"),
            (lit(6) + pmod(col("doc_id"), lit(9))).cast("int").as("height"),
            nf.as("nf"),
            transform(sequence(lit(0), nf - 1),
              k => pmod(col("doc_id") * 11 + k * 31, lit(256)).cast("int")).as("fr_r"),
            transform(sequence(lit(0), nf - 1),
              k => pmod(col("doc_id") * 7 + k * 17, lit(256)).cast("int")).as("fr_g"),
            transform(sequence(lit(0), nf - 1),
              k => pmod(col("doc_id") * 13 + k * 29, lit(256)).cast("int")).as("fr_b"))
        // cached: RDD-backed frames get no subtree reuse, so without this
        // the per-asset ImageIO encode would run once for the frame decode
        // branch and again for the byte-length join
        val gif = graft.CacheScope.track(MultimodalOps.encodeAnimatedGif(spec).cache())
        val frames = MultimodalOps.decodeGifFrames(gif, "asset_id", "content")
        val perAsset = frames
          .filter(col("decoded"))
          .groupBy("asset_id")
          .agg(
            count(lit(1)).cast("int").as("n_frames"),
            max("width").as("width"),
            max("height").as("height"),
            // uniform fill ⇒ sum_x / n_px is the exact fill value; sum of
            // those means over frames is the oracle-closed-form feature
            sum(col("sum_r") / col("n_px")).cast("long").as("sum_mean_r"),
            sum(col("sum_g") / col("n_px")).cast("long").as("sum_mean_g"),
            sum(col("sum_b") / col("n_px")).cast("long").as("sum_mean_b"))
        perAsset
          .join(gif.select(col("asset_id"), length(col("content")).as("gif_bytes")), "asset_id")
          .join(spec.select(col("asset_id"), (col("width") * col("height") * 3 * col("nf")).as("raw_bytes")), "asset_id")
          .select(
            col("asset_id"), col("n_frames"), col("width"), col("height"),
            col("sum_mean_r"), col("sum_mean_g"), col("sum_mean_b"),
            when(col("gif_bytes") < col("raw_bytes"), 1L).otherwise(0L).as("compressed"))
          .orderBy("asset_id")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, CAST(8 + doc_id % 13 AS INTEGER) AS w, " +
          "CAST(6 + doc_id % 9 AS INTEGER) AS h, CAST(2 + doc_id % 4 AS INTEGER) AS nf " +
          "FROM documents WHERE doc_id < 400) " +
          "SELECT asset_id, nf AS n_frames, w AS width, h AS height, " +
          "CAST(list_sum(list_transform(generate_series(0, nf - 1), k -> (asset_id * 11 + k * 31) % 256)) AS BIGINT) AS sum_mean_r, " +
          "CAST(list_sum(list_transform(generate_series(0, nf - 1), k -> (asset_id * 7 + k * 17) % 256)) AS BIGINT) AS sum_mean_g, " +
          "CAST(list_sum(list_transform(generate_series(0, nf - 1), k -> (asset_id * 13 + k * 29) % 256)) AS BIGINT) AS sum_mean_b, " +
          "CAST(1 AS BIGINT) AS compressed FROM spec ORDER BY asset_id")),

    // REAL JDK image codec round-trip, driver-visible AND hash-checked:
    // each document row deterministically defines a uniform-fill image
    // (size and RGB derived from doc_id), executors ENCODE it to a real
    // compressed PNG with `javax.imageio`, decodeImageIO DECODES the bytes
    // with the same codec family, and the pixel-derived features — decoded
    // dimensions, channel count, exact channel means, the luminance bucket
    // holding all the mass — are predictable by construction, so DuckDB
    // oracles the genuine codec path end-to-end (no stub anywhere in this
    // plan). Uniform fill makes every feature integer-exact: mean channel
    // = the fill value, histogram = a single bucket at mass 1.0.
    NamedQuery(
      "m02_imageio_features",
      (s, dir) => {
        val spec = t(s, dir, "documents").select(
          col("doc_id").as("asset_id"),
          (lit(1) + pmod(col("doc_id"), lit(8))).cast("int").as("width"),
          (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("height"),
          pmod(col("doc_id"), lit(256)).cast("int").as("r"),
          pmod(col("doc_id") * 7, lit(256)).cast("int").as("g"),
          pmod(col("doc_id") * 13, lit(256)).cast("int").as("b"))
        val encoded = MultimodalOps.encodeUniformImages(spec)
        MultimodalOps.decodeImageIO(encoded, "asset_id", "content")
          .select(
            col("asset_id"),
            col("width"),
            col("height"),
            col("channels"),
            element_at(col("mean_rgb"), 1).cast("int").as("mean_r"),
            element_at(col("mean_rgb"), 2).cast("int").as("mean_g"),
            element_at(col("mean_rgb"), 3).cast("int").as("mean_b"),
            (expr("array_position(lum_hist, array_max(lum_hist))") - 1).cast("int").as("lum_bucket"),
            round(expr("array_max(lum_hist)").cast("double"), 4).as("bucket_mass"))
          .orderBy("asset_id")
      },
      Some(
        "SELECT doc_id AS asset_id, CAST(1 + doc_id % 8 AS INTEGER) AS width, " +
          "CAST(1 + doc_id % 5 AS INTEGER) AS height, 3 AS channels, " +
          "CAST(doc_id % 256 AS INTEGER) AS mean_r, CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g, " +
          "CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b, " +
          "CAST((299 * (doc_id % 256) + 587 * ((doc_id * 7) % 256) " +
          "+ 114 * ((doc_id * 13) % 256)) // 1000 // 16 AS INTEGER) AS lum_bucket, " +
          "1.0 AS bucket_mass FROM documents ORDER BY asset_id")),

    // REAL audio codec round-trip, the WAV analog of m02: deterministic
    // int16 sample patterns encode to genuine RIFF/PCM16 bytes
    // (encodePcmWav), decode back through the JDK's javax.sound.sampled
    // (decodeWavAudio), and the sample-domain features are pure integer
    // math — DuckDB recomputes them from the sample formula, so hash-green
    // proves header writing, the JDK's WAV parsing, endianness handling,
    // and the mapPartitions plumbing all agree end-to-end.
    NamedQuery(
      "m03_wav_roundtrip",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(
            col("doc_id").as("asset_id"),
            (lit(200) + pmod(col("doc_id"), lit(57))).cast("int").as("n_samples"),
            (lit(8000) + pmod(col("doc_id"), lit(3)) * lit(4000)).cast("int").as("sample_rate"),
            col("doc_id").as("seed"))
        val encoded = MultimodalOps.encodePcmWav(spec)
        MultimodalOps
          .decodeWavAudio(encoded, "asset_id", "content")
          .select("asset_id", "sample_rate", "channels", "n_samples", "s_min", "s_max", "s_sum")
          .orderBy("asset_id")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, CAST(200 + doc_id % 57 AS INTEGER) AS n, " +
          "CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sr FROM documents WHERE doc_id < 200), " +
          "s AS (SELECT asset_id, sr, n, list_transform(generate_series(0, n - 1), " +
          "i -> ((asset_id * 31 + i * 7919) % 65536) - 32768) AS xs FROM spec) " +
          "SELECT asset_id, sr AS sample_rate, 1 AS channels, n AS n_samples, " +
          "CAST(list_min(xs) AS INTEGER) AS s_min, CAST(list_max(xs) AS INTEGER) AS s_max, " +
          "CAST(list_sum(xs) AS BIGINT) AS s_sum FROM s ORDER BY asset_id")),

    // Per-frame audio features over the m03 WAV fixture
    // (MultimodalOps.audioFrameFeatures): 64-sample frames reduced to
    // exact-integer energy (Σs²) and zero-crossing counts — the
    // silence-gate / VAD primitive of an audio-curation pipeline. The
    // real decode path runs (RIFF bytes → javax.sound → frames); the
    // oracle re-derives every frame from the sample formula alone, so
    // hash-green proves header parsing, frame slicing, the energy sums
    // and the crossing logic all at once.
    NamedQuery(
      "m06_audio_frame_features",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(
            col("doc_id").as("asset_id"),
            (lit(200) + pmod(col("doc_id"), lit(57))).cast("int").as("n_samples"),
            (lit(8000) + pmod(col("doc_id"), lit(3)) * lit(4000)).cast("int").as("sample_rate"),
            col("doc_id").as("seed"))
        val encoded = MultimodalOps.encodePcmWav(spec)
        MultimodalOps
          .audioFrameFeatures(encoded, "asset_id", "content", frameLen = 64)
          .orderBy("asset_id", "frame_idx")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, CAST(200 + doc_id % 57 AS INTEGER) AS n " +
          "FROM documents WHERE doc_id < 200), " +
          "s AS (SELECT asset_id, n, unnest(generate_series(0, n - 1)) AS i FROM spec), " +
          "x AS (SELECT asset_id, i, (asset_id * 31 + i * 7919) % 65536 - 32768 AS v FROM s), " +
          "lx AS (SELECT asset_id, i, v, lag(v) OVER (PARTITION BY asset_id ORDER BY i) AS pv FROM x) " +
          "SELECT asset_id, CAST(i // 64 AS INTEGER) AS frame_idx, CAST(count(*) AS INTEGER) AS n, " +
          "CAST(sum(v * v) AS BIGINT) AS sum_sq, " +
          "CAST(sum(CASE WHEN i % 64 > 0 AND (v < 0) <> (pv < 0) THEN 1 ELSE 0 END) AS INTEGER) " +
          "AS zero_cross FROM lx GROUP BY asset_id, i // 64 ORDER BY asset_id, frame_idx")),

    // Video-shaped frame sampling end-to-end: deterministic raw "clips"
    // (16-byte header + n×32-byte frames whose bytes follow a closed-form
    // formula) are assembled as REAL binary columns (hex → unhex), cut and
    // strided by MultimodalOps.sampleFrames, and the per-frame byte sums
    // are extracted back out of the sampled binary. DuckDB recomputes the
    // sums from the byte formula alone — hash-green proves binary
    // assembly, header skip, frame slicing, stride arithmetic, and byte
    // extraction all agree, not just that frames came out.
    NamedQuery(
      "m04_frame_sample",
      (s, dir) => {
        val frameSize = 32
        val stride = 3
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(
            col("doc_id"),
            (pmod(col("doc_id"), lit(5)) + 8).cast("int").as("n_frames"))
        val payloadHex = concat_ws(
          "",
          transform(
            sequence(lit(0), col("n_frames") * frameSize - 1),
            b => lpad(hex(pmod(col("doc_id") * 31 + b.cast("long") * 7, lit(256))), 2, "0")))
        val headerHex = concat(
          lit("47524654"), // "GRFT" magic, bytes 1-4
          lpad(hex(lit(frameSize)), 8, "0"), // width   := frame size
          lpad(hex(col("n_frames")), 8, "0"), // height := frame count
          lpad(hex(lit(1)), 8, "0")) // channels
        val clips = spec.select(col("doc_id"), unhex(concat(headerHex, payloadHex)).as("clip"))
        val assets = MultimodalOps.toAssets(clips, "doc_id", "clip", "video/raw")
        MultimodalOps
          .sampleFrames(assets, frameSize, stride)
          .select(
            col("asset_id"),
            col("frame_idx").cast("int").as("frame_idx"),
            aggregate(
              sequence(lit(1), length(col("frame"))),
              lit(0L),
              (a, i) => a + conv(hex(col("frame").substr(i, lit(1))), 16, 10).cast("long")).as("fsum"))
          .orderBy("asset_id", "frame_idx")
      },
      Some(
        "WITH spec AS (SELECT doc_id, CAST(doc_id % 5 + 8 AS INTEGER) AS nf FROM documents WHERE doc_id < 40), " +
          "f AS (SELECT doc_id, unnest(range(0, nf, 3)) AS fi FROM spec) " +
          "SELECT doc_id AS asset_id, CAST(fi AS INTEGER) AS frame_idx, " +
          "CAST(list_sum(list_transform(range(0, 32), b -> (doc_id * 31 + (fi * 32 + b) * 7) % 256)) AS BIGINT) AS fsum " +
          "FROM f ORDER BY asset_id, frame_idx")),

    // =====================================================================
    // Corpus sampling (Sampling: deterministic, seedless, cross-engine)
    // =====================================================================

    // Per-source quota downsample: at most 10 docs per source, selected by
    // the Knuth multiplicative-hash priority — the portable arithmetic IS
    // the point (DuckDB computes the identical sample, so the driver
    // hash-checks that `df.sample`-style nondeterminism never crept in).
    NamedQuery(
      "p01_quota_sample",
      (s, dir) =>
        Sampling
          .quotaPerGroup(t(s, dir, "documents").select("doc_id", "source"), "source", "doc_id", 10)
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, source FROM (SELECT doc_id, source, " +
          "row_number() OVER (PARTITION BY source " +
          "ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn " +
          "FROM documents) WHERE rn <= 10 ORDER BY doc_id")),

    // Temperature-rebalanced mixture targets per language (alpha = 0.5
    // flattens toward uniform — the standard rare-language upweighting
    // rule). weight/share are float32-squeezed inside the operator so
    // pow-ulp differences can't flip the floor(x+0.5) boundary.
    NamedQuery(
      "p02_temperature_mix",
      (s, dir) =>
        Sampling
          .temperatureTargets(t(s, dir, "documents"), "lang", 0.5, 10000L)
          .select(
            col("lang"),
            col("n_rows"),
            f32round(col("share"), 6).as("share"),
            col("target_rows"))
          .orderBy("lang"),
      Some(
        "WITH c AS (SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang), " +
          "w AS (SELECT lang, n_rows, " +
          "CAST(CAST(pow(CAST(n_rows AS DOUBLE), 0.5) AS REAL) AS DOUBLE) AS wt FROM c) " +
          "SELECT lang, n_rows, " +
          "round(CAST(CAST(wt / sum(wt) OVER () AS REAL) AS DOUBLE), 6) + 0.0 AS share, " +
          "CAST(floor(CAST(CAST(wt / sum(wt) OVER () AS REAL) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS target_rows " +
          "FROM w ORDER BY lang")),

    // Sequence packing (concat-then-chunk, budget 512): every document's
    // global token offset and the training-sequence interval it lands in.
    // The operator computes the prefix sum with the two-level scheme
    // (range shuffle + per-partition subtotals + broadcast bases — never a
    // single-task global window); the oracle states the same answer with
    // the naive global window, which is exactly the point: hash-green
    // proves the distributed scan equals the sequential definition.
    NamedQuery(
      "p04_pack_sequences",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
        Packing.packSequences(docs, "doc_id", "n_tokens", budget = 512L).orderBy("doc_id")
      },
      Some(
        s"WITH tk AS (SELECT doc_id, len($duckToks) AS n FROM documents), " +
          "c AS (SELECT doc_id, CAST(n AS BIGINT) AS n, " +
          // sum() over BIGINT yields HUGEINT in DuckDB — squeeze back
          "CAST(sum(CAST(n AS BIGINT)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s " +
          "FROM tk WHERE n > 0) " +
          "SELECT doc_id, n AS n_tokens, s AS start_offset, " +
          "CAST(s // 512 AS BIGINT) AS seq_first, CAST((s + n - 1) // 512 AS BIGINT) AS seq_last " +
          "FROM c ORDER BY doc_id")),

    // Deterministic hash split (90/5/5): membership is a pure function of
    // doc_id (Knuth priority mod 100), so DuckDB reproduces the exact
    // assignment — hash-green proves the split carries zero RNG state and
    // survives any engine/partitioning. Summarized per (lang, split) with
    // an id-sum so a single swapped doc flips the hash.
    NamedQuery(
      "p05_hash_split",
      (s, dir) => {
        Sampling
          .hashSplit(t(s, dir, "documents").select("doc_id", "lang"), "doc_id", 90, 5)
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .orderBy("lang", "split")
      },
      Some(
        "SELECT lang, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split, " +
          "count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids " +
          "FROM (SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 % 100 AS b FROM documents) " +
          "GROUP BY 1, 2 ORDER BY lang, split")),

    // Dedup-cluster closure: connectedComponents over CHAIN pairs — each
    // doc x < 150 links to x+100000 which links to x+200000, but x and
    // x+200000 share NO direct edge, so a correct output REQUIRES the
    // transitive closure (pairwise keep-smaller logic would leave x+200000
    // uncanonicalized). The expected component id is pure arithmetic
    // (min of the chain = x = id % 100000), which DuckDB states directly —
    // hash-green proves the label propagation converged to the exact
    // fixpoint for every chain.
    NamedQuery(
      "p03_dup_clusters",
      (s, dir) => {
        val base = t(s, dir, "documents").filter(col("doc_id") < 150).select("doc_id")
        val pairs = base
          .select(col("doc_id").as("id_a"), (col("doc_id") + 100000L).as("id_b"))
          .unionByName(
            base.select((col("doc_id") + 100000L).as("id_a"), (col("doc_id") + 200000L).as("id_b")))
        Dedup.connectedComponents(pairs).orderBy("id")
      },
      Some(
        "WITH x AS (SELECT doc_id FROM documents WHERE doc_id < 150), " +
          "ids AS (SELECT doc_id AS id FROM x UNION ALL " +
          "SELECT doc_id + 100000 FROM x UNION ALL SELECT doc_id + 200000 FROM x) " +
          "SELECT id, id % 100000 AS comp FROM ids ORDER BY id")),

    // =====================================================================
    // Sources / sinks beyond Parquet (CSV + JSON, driver-visible)
    // =====================================================================

    // Lossless CSV + JSON sink→scan round-trip of the events table — the
    // torture columns are `ts` (microsecond timestamps, which the default
    // millisecond timestampFormat would silently truncate) and `props`
    // (JSON strings full of quotes/braces that exercise CSV quoting).
    // Both round-tripped copies are summarized with exact integer/string
    // aggregates and compared against the same summary DuckDB computes
    // straight from the parquet fixture: hash-green means both formats
    // preserved every row, every microsecond, and every quoted byte.
    // (SourceFormatSpec holds the ORC + bucketed-table equivalents; this
    // query makes the text-format path part of the driver's gate.)
    NamedQuery(
      "q29_source_roundtrip",
      (s, dir) => {
        val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        val ev = t(s, dir, "events").select("event_id", "user_id", "event_type", "ts", "props")
        val tmp = java.nio.file.Files.createTempDirectory("graft_src_rt_")
        val (rows, schema) = try {
          val csvDir = s"$tmp/csv"
          val jsonDir = s"$tmp/json"
          ev.write.option("header", "true").option("timestampFormat", tsFmt).csv(csvDir)
          ev.write.option("timestampFormat", tsFmt).json(jsonDir)
          val csv =
            s.read.schema(ev.schema).option("header", "true").option("timestampFormat", tsFmt).csv(csvDir)
          val json = s.read.schema(ev.schema).option("timestampFormat", tsFmt).json(jsonDir)
          def summarize(df: DataFrame, fmt: String): DataFrame =
            df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("user_id")).as("sum_users"),
              countDistinct(col("event_type")).as("n_types"),
              // exact long fold over the time-of-day microseconds: immune
              // to float-sum ordering, overflow-safe (8.64e10 × |events|)
              sum(pmod(unix_micros(col("ts")), lit(86400000000L))).as("sum_us_of_day"),
              date_format(min(col("ts")), tsFmt).as("min_ts"),
              date_format(max(col("ts")), tsFmt).as("max_ts"),
              sum(length(col("props")).cast("long")).as("props_len"),
              max(col("props")).as("max_props"))
              .select(lit(fmt).as("fmt"), col("n_rows"), col("sum_users"), col("n_types"),
                col("sum_us_of_day"), col("min_ts"), col("max_ts"), col("props_len"), col("max_props"))
          val out = summarize(csv, "csv").unionByName(summarize(json, "json")).orderBy("fmt")
          (out.collect().toSeq, out.schema)
        } finally deleteRecursively(tmp)
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH e AS (SELECT event_id, user_id, event_type, " +
          // DuckDB reads the fixture ts as TIMESTAMP_NS; the engine reads
          // nanos-as-long truncated to µs — truncate identically (q26 does)
          "date_trunc('microseconds', ts) AS ts, props FROM events), " +
          "a AS (SELECT count(*) AS n_rows, CAST(sum(user_id) AS BIGINT) AS sum_users, " +
          "CAST(count(DISTINCT event_type) AS BIGINT) AS n_types, " +
          "CAST(sum(epoch_us(ts) % 86400000000) AS BIGINT) AS sum_us_of_day, " +
          "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts, " +
          "strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts, " +
          "CAST(sum(len(props)) AS BIGINT) AS props_len, max(props) AS max_props FROM e) " +
          "SELECT 'csv' AS fmt, * FROM a UNION ALL SELECT 'json', * FROM a ORDER BY fmt")),

    // ORC + BUCKETED tables, driver-visible (promoting SourceFormatSpec's
    // claims into the driver record): (a) the documents table is written
    // to ORC and re-read with a predicate that must reach the ORC scan as
    // a pushed filter; (b) lineitem + orders are saved as tables BUCKETED
    // by the join key and joined with broadcast disabled — bucketing must
    // co-locate the join with NO Exchange on either side (the 100 TB
    // shuffle-elimination claim). Both STRUCTURAL facts ride the output as
    // the plan_ok column whose oracle value is the constant 1, so
    // hash-green certifies the pushdown and the exchange-free join in the
    // driver record itself — not just that the bytes round-tripped.
    NamedQuery(
      "q30_orc_bucketed",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_q30_")
        val (rows, schema) = try {
          val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
          docs.write.mode("overwrite").orc(s"$tmp/orc")
          val backFiltered = s.read.orc(s"$tmp/orc").filter(col("n_chars") > 100)
          val orcPlan = backFiltered.select("doc_id").queryExecution.executedPlan.toString
          val orcPlanOk = orcPlan.contains("PushedFilters:") && orcPlan.contains("n_chars")
          val orcAgg = backFiltered.agg(
            count(lit(1)).as("n_rows"),
            sum(col("n_chars")).as("agg1"),
            countDistinct(col("lang")).as("agg2"))
            .select(
              lit("orc").as("part"), col("n_rows"), col("agg1"), col("agg2"),
              lit(if (orcPlanOk) 1L else 0L).as("plan_ok"))
          val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
          val ord = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
          // per-run token so two concurrent sessions sharing a warehouse
          // can't clobber each other's managed tables
          val tok = java.lang.Long.toHexString(
            System.nanoTime() ^ (Thread.currentThread().getId << 48))
          val liTable = s"q30_b_lineitem_$tok"
          val ordTable = s"q30_b_orders_$tok"
          li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTable)
          ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordTable)
          // broadcast disabled: the fixture's tiny tables would otherwise
          // skip the shuffle-join regime — which is exactly the regime
          // where bucketing must eliminate the exchanges
          val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try {
            val joined = s.table(liTable)
              .join(s.table(ordTable), col("l_orderkey") === col("o_orderkey"))
            val bucketPlanOk = !joined.queryExecution.executedPlan.toString.contains("Exchange")
            val bAgg = joined.agg(
              count(lit(1)).as("n_rows"),
              sum(col("l_orderkey")).as("agg1"),
              countDistinct(col("o_orderkey")).as("agg2"))
              .select(
                lit("bucketed").as("part"), col("n_rows"), col("agg1"), col("agg2"),
                lit(if (bucketPlanOk) 1L else 0L).as("plan_ok"))
            val out = bAgg.unionByName(orcAgg).orderBy("part")
            (out.collect().toSeq, out.schema)
          } finally {
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
            s.sql(s"DROP TABLE IF EXISTS $liTable")
            s.sql(s"DROP TABLE IF EXISTS $ordTable")
          }
        } finally deleteRecursively(tmp)
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH o AS (SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS agg1, " +
          "CAST(count(DISTINCT lang) AS BIGINT) AS agg2 FROM documents WHERE n_chars > 100), " +
          "b AS (SELECT count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS agg1, " +
          "CAST(count(DISTINCT o_orderkey) AS BIGINT) AS agg2 " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
          "SELECT 'bucketed' AS part, n_rows, agg1, agg2, CAST(1 AS BIGINT) AS plan_ok FROM b " +
          "UNION ALL SELECT 'orc', n_rows, agg1, agg2, CAST(1 AS BIGINT) FROM o ORDER BY part")),

    // Sketch-accuracy certification — the approximate aggregates a 100 TB
    // pipeline actually runs instead of exact ones (HLL++ distinct
    // counts, Greenwald–Khanna quantiles): the EXACT values cross the
    // oracle, and each sketch output rides along as an error-bound flag
    // the oracle expects to be 1 — hash-green proves the sketches ran AND
    // stayed inside their published bounds (HLL rsd 0.05 → 15% ≈ 3σ
    // guard; GK accuracy 10000 → ≤ 1% value error at the median of this
    // distribution). The sketch VALUES themselves are deliberately not
    // compared: DuckDB's HLL/quantile implementations differ, which is
    // exactly why the bound — not the estimate — is the contract. Both
    // sketches are single-pass, mergeable, bounded-memory — the reason
    // they replace exact distinct/percentile at corpus scale.
    NamedQuery(
      "q31_sketch_accuracy",
      (s, dir) => {
        // The exact distinct count lives in its OWN aggregation branch,
        // joined back on the (few-row) group key: mixing countDistinct
        // with typed-imperative aggregates (percentile) in one agg makes
        // Catalyst plan the distinct-Expand shape, whose first-level
        // aggregate keys on (l_returnflag, l_orderkey) — one percentile
        // buffer per ORDER key (~10× slower at sf0.1, and the buffer
        // count scales with data, not groups, at 100 TB). Two pruned
        // scans + a broadcast-sized join of per-flag rows beat that
        // in both regimes.
        val li = t(s, dir, "lineitem")
        val nd = li
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("nd_exact"))
        nd.join(
          li.groupBy("l_returnflag")
            .agg(
              approx_count_distinct(col("l_orderkey"), 0.05).as("nd_approx"),
              expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
              expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_approx")),
          Seq("l_returnflag"))
          .select(
            col("l_returnflag"),
            col("nd_exact"),
            when(
              abs(col("nd_approx") - col("nd_exact")).cast("double") / col("nd_exact") <= 0.15,
              1L).otherwise(0L).as("hll_ok"),
            round(col("p50_exact"), 4).as("p50_exact"),
            when(
              abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") <= 0.01,
              1L).otherwise(0L).as("gk_ok"))
          .orderBy("l_returnflag")
      },
      Some(
        "SELECT l_returnflag, count(DISTINCT l_orderkey) AS nd_exact, " +
          "CAST(1 AS BIGINT) AS hll_ok, " +
          "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact, " +
          "CAST(1 AS BIGINT) AS gk_ok " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // The PPJoin prefix plan driver-visible AND hash-checked: d03 runs the
    // low-threshold direct plan (t = 0.05 < 0.2), so this query exercises
    // the OTHER physical plan behind the same sparseJaccardPairs contract
    // — prefix candidates + bounded exact verify at t = 0.5, where the
    // prefix genuinely prunes. Planted near-dups: first two tokens
    // dropped, so a doc with n tokens shares all n−4 of its twin's
    // 3-gram shingles → J = (n−4)/(n−2) ≥ 0.5 at n ≥ 12. The DuckDB
    // oracle recomputes the exact blocked Jaccard from first principles,
    // so hash-green proves the prefix filter dropped NOTHING it shouldn't
    // — the output-preservation argument, certified on real data in the
    // driver record (TextSpec pins it property-style).
    NamedQuery(
      "d07_ppjoin_jaccard",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "source", "text")
        val toks = TextOps.tokens(col("text"))
        val mutated = docs
          .filter(size(toks) >= 12)
          .select(
            (col("doc_id") + 300000L).as("doc_id"),
            col("source"),
            concat_ws(" ", slice(toks, 3, 1000000)).as("text"))
        Dedup
          .sparseJaccardPairs(docs.unionByName(mutated), "source", shingleN = 3, minJaccard = 0.5)
          .select(
            col("block").as("blk"), col("doc_a"), col("doc_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(
        s"WITH base AS (SELECT source, doc_id, $duckToks AS w FROM documents), " +
          "all_docs AS (SELECT source, doc_id, w FROM base UNION ALL " +
          "SELECT source, doc_id + 300000, w[3:] FROM base WHERE len(w) >= 12), " +
          "tok AS (SELECT source AS blk, doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 2, 0)), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh " +
          "FROM all_docs), " +
          "p AS (SELECT a.blk, a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0 " +
          "ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) END AS jaccard " +
          "FROM tok a JOIN tok b ON a.blk = b.blk AND a.doc_id < b.doc_id) " +
          "SELECT blk, doc_a, doc_b, round(jaccard, 4) AS jaccard FROM p WHERE jaccard >= 0.5 " +
          "ORDER BY doc_a, doc_b")),

    // Star-contraction closure driver-visible AND hash-checked on the
    // graph class that MOTIVATES it: planted 100-node chains (one per
    // consecutive doc_id century), diameter 99 — min-label propagation
    // would need about 100 rounds to close these, the O(log² n)
    // large-star/small-star alternation needs far fewer. The oracle states the
    // ground truth arithmetically (component = the century, comp = its
    // minimum id), so hash-green certifies full closure of every chain.
    NamedQuery(
      "p06_star_clusters",
      (s, dir) => {
        val ids = t(s, dir, "documents").select("doc_id")
        val edges = ids
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1L).as("id_b"))
          .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
          .filter(pmod(col("id_a"), lit(100L)) =!= 99L)
          .select("id_a", "id_b")
        Dedup.connectedComponentsStar(edges).orderBy("id")
      },
      Some(
        "WITH ids AS (SELECT doc_id FROM documents), " +
          "e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ids a " +
          "JOIN ids b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 100 <> 99), " +
          "nodes AS (SELECT id_a AS id FROM e UNION SELECT id_b FROM e) " +
          "SELECT id, id - id % 100 AS comp FROM nodes ORDER BY id")),

    // Okapi BM25 (k1=1.2, b=0.75) of the corpus against a fixed 3-term
    // query — the retrieval primitive of the curation layer (Bm25.score:
    // one combinable pass builds dl + every tf; corpus stats collapse to a
    // broadcast row). Every score input is an exact integer (tf, dl, df,
    // N, Σdl — avgdl is one exact-int division), so DuckDB replays the
    // identical double DAG in the identical association order; the f32
    // squeeze absorbs the lone libm-dependent step (ln), and both engines
    // rank on the ROUNDED score so an ulp of ln drift can never flip an
    // order. Top-25 via orderBy+limit (TakeOrdered — no global window
    // before the cut; row_number runs over 25 rows).
    NamedQuery(
      "t08_bm25_rank",
      (s, dir) => {
        val w25 = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        Bm25
          .score(t(s, dir, "documents"), Seq("vector", "spark", "merge"))
          .select(
            col("doc_id"), col("dl"), col("tf0"), col("tf1"), col("tf2"),
            f32round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(25)
          .withColumn("rnk", row_number().over(w25).cast("int"))
          .orderBy("rnk")
      },
      Some {
        def term(i: Int): String =
          s"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
            s" * CAST(tf$i AS DOUBLE) * (1.2 + 1.0) / (CAST(tf$i AS DOUBLE) + 1.2 * " +
            s"(1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        s"WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents), " +
          "perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl, " +
          "CAST(sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf0, " +
          "CAST(sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf1, " +
          "CAST(sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf2 " +
          "FROM tok GROUP BY doc_id), " +
          "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl, " +
          "CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0, " +
          "CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1, " +
          "CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2 FROM perdoc), " +
          "sc AS (SELECT doc_id, dl, tf0, tf1, tf2, " +
          s"round(CAST(CAST(${term(0)} + ${term(1)} + ${term(2)} AS REAL) AS DOUBLE), 4) + 0.0 AS score " +
          "FROM perdoc, stats) " +
          "SELECT doc_id, dl, tf0, tf1, tf2, score, " +
          "CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rnk " +
          "FROM sc ORDER BY score DESC, doc_id LIMIT 25"
      }),

    // Count-min-sketch heavy hitters: a d=4 × w=512 sketch built from the
    // portable Karp–Rabin double-hash rows (Cms.sketch — one combinable
    // groupBy; the summary is O(d·w) and merges by adding cells), then the
    // exact top-20 tokens point-estimated back through it. DuckDB rebuilds
    // the identical sketch from first principles — hash-green certifies
    // both the hash-row arithmetic and the CMS ≥-exact overcount direction
    // (overcount is non-negative by construction; the spec pins it for
    // EVERY token, not just the top-20).
    NamedQuery(
      "t09_cms_heavy_hitters",
      (s, dir) => {
        // rebalance before the CPU-dominant tokenize+explode (the
        // shingleRows rule): the one-file fixture scan ran the whole
        // sketch build on a single task (measured 5 tasks / 3.3 s, all
        // serial) — the sketch aggregate is map-side combinable, so the
        // shuffle of raw text buys a full-width build
        val toks = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
        val sk = Cms.sketch(toks, "tok", depth = 4, width = 512)
        val top = toks
          .groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("tok"))
          .limit(20)
        Cms
          .estimate(top, "tok", sk, depth = 4, width = 512)
          .select(col("tok"), col("exact_n"), col("est_n"), (col("est_n") - col("exact_n")).as("overcount"))
          .orderBy(col("exact_n").desc, col("tok"))
      },
      Some(cmsOracleSql)),

    // Sketch MERGEABILITY law, certified by real computation — the
    // property that makes sketches scale-out primitives at all: a CMS
    // built per shard and sum-merged must equal the CMS of the whole
    // corpus CELL FOR CELL (counts are linear), and every estimate read
    // from the merged sketch must equal the whole-corpus estimate and
    // upper-bound the exact count. The engine builds the two half-corpus
    // sketches (doc_id parity split), merges them with the documented
    // merge rule (sum cnt on (row_j, cell)), and full-outer-joins against
    // the whole-corpus sketch — n_mismatch is COUNTED, not assumed.
    // Portable hashes make n_cells/total_cnt oracle-replayable exactly;
    // the law flags are invariants (merge is associative integer
    // addition), stated as 1 by the oracle and verified by the join.
    NamedQuery(
      "t19_cms_mergeability",
      (s, dir) => {
        val toks = graft.CacheScope.track(
          t(s, dir, "documents")
            // rebalance before the CPU-dominant tokenize+explode AND the
            // cache: the one-file scan built (and laid out) the cached
            // token table on a single partition, serializing every
            // downstream sketch pass over it
            .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
            .cache())
        val d = 4
        val w = 512
        val whole = graft.CacheScope.track(Cms.sketch(toks, "tok", d, w).cache())
        val skL = Cms.sketch(toks.filter(col("doc_id") % 2 === 0), "tok", d, w)
        val skR = Cms.sketch(toks.filter(col("doc_id") % 2 === 1), "tok", d, w)
        val merged = graft.CacheScope.track(
          skL.unionByName(skR).groupBy("row_j", "cell").agg(sum("cnt").as("cnt")).cache())
        val mismatch = merged
          .withColumnRenamed("cnt", "cnt_m")
          .join(whole.withColumnRenamed("cnt", "cnt_w"), Seq("row_j", "cell"), "full_outer")
          .filter(not(col("cnt_m") <=> col("cnt_w")))
          .count()
        val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("tok")).limit(5)
        val estPairs = Cms.estimate(top, "tok", merged, d, w)
          .withColumnRenamed("est_n", "est_merged")
          .join(
            Cms.estimate(top, "tok", whole, d, w).select(col("tok"), col("est_n").as("est_whole")),
            "tok")
          .collect()
        val stats = whole.agg(count(lit(1)).as("n_cells"), sum("cnt").as("total_cnt")).head()
        import s.implicits._
        Seq((
          stats.getLong(0), stats.getLong(1),
          if (mismatch == 0L) 1L else 0L,
          if (estPairs.forall(r => r.getAs[Long]("est_merged") == r.getAs[Long]("est_whole"))) 1L else 0L,
          if (estPairs.forall(r => r.getAs[Long]("est_merged") >= r.getAs[Long]("exact_n"))) 1L else 0L))
          .toDF("n_cells", "total_cnt", "merge_exact", "est_eq_whole", "est_ge_exact")
      },
      Some(
        s"$cmsSketchCtesSql " +
          "SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(cnt) AS BIGINT) AS total_cnt, " +
          "CAST(1 AS BIGINT) AS merge_exact, CAST(1 AS BIGINT) AS est_eq_whole, " +
          "CAST(1 AS BIGINT) AS est_ge_exact FROM sk")),

    // Cross-source contamination MATRIX — d06's benchmark rule turned
    // into the pairwise diagnostic a curation run reads to find which
    // sources copy from which: for every source pair, the number of
    // distinct 5-grams they share and the containment ratio relative to
    // the smaller side. One shingle pass reduced to DISTINCT
    // (source, gram) rows — the corpus text never joins, only the
    // deduplicated gram-key table does, and a gram shared by k sources
    // fans out to at most k(k−1)/2 pair rows (k = #sources, a constant).
    // All-integer counts + one f32 ratio; the oracle replays the entire
    // matrix exactly.
    NamedQuery(
      "t20_contamination_matrix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sh = graft.CacheScope.track(
          TextOps.shingleRows(docs.select("doc_id", "text"), 5, distinctSet = true)
            .join(docs.select("doc_id", "source"), "doc_id")
            .select("source", "s").distinct().cache())
        val cnt = sh.groupBy("source").agg(count(lit(1)).as("n_grams"))
        val a = sh.select(col("source").as("src_a"), col("s"))
        val b = sh.select(col("source").as("src_b"), col("s"))
        a.join(b, "s")
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(cnt.select(col("source").as("src_a"), col("n_grams").as("na"))), "src_a")
          .join(broadcast(cnt.select(col("source").as("src_b"), col("n_grams").as("nb"))), "src_b")
          .select(
            col("src_a"), col("src_b"), col("n_shared"), col("na"), col("nb"),
            f32round(col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"), 6)
              .as("containment"))
          .orderBy("src_a", "src_b")
      },
      Some(
        s"WITH sh AS (SELECT DISTINCT source, gram FROM (SELECT source, unnest(list_distinct(" +
          "list_transform(generate_series(1, greatest(len(w) - 4, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS gram " +
          s"FROM (SELECT source, $duckToks AS w FROM documents))), " +
          "c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM sh GROUP BY source) " +
          "SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared, " +
          "any_value(ca.n_grams) AS na, any_value(cb.n_grams) AS nb, " +
          "round(CAST(CAST(CAST(count(*) AS DOUBLE) / least(any_value(ca.n_grams), any_value(cb.n_grams)) " +
          "AS REAL) AS DOUBLE), 6) + 0.0 AS containment " +
          "FROM sh a JOIN sh b ON a.gram = b.gram AND a.source < b.source " +
          "JOIN c ca ON ca.source = a.source JOIN c cb ON cb.source = b.source " +
          "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Per-document tf·idf keyword extraction (TfIdf.topTerms): exact
    // integer tf/df/N, add-one-smoothed idf, ranks taken on the
    // float32-squeezed score (the t08 trick — the one libm `ln` step can
    // never flip the emitted top-k across engines). The oracle recomputes
    // the full pipeline from first principles; hash-green certifies tf,
    // df, N, every surviving score, and the per-doc ranking at once.
    NamedQuery(
      "t10_tfidf_terms",
      (s, dir) =>
        TfIdf
          .topTerms(t(s, dir, "documents").select("doc_id", "text"), k = 3)
          .orderBy("doc_id", "rnk"),
      Some(
        s"WITH tok AS (SELECT doc_id, unnest($duckToks) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term), " +
          "dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
          "n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf), " +
          "sc AS (SELECT doc_id, term, tf, " +
          "round(CAST(CAST(CAST(tf AS DOUBLE) * ln((CAST(n_docs AS DOUBLE) + 1.0) / " +
          "(CAST(df AS DOUBLE) + 1.0)) AS REAL) AS DOUBLE), 4) + 0.0 AS score " +
          "FROM tf JOIN dft USING (term) CROSS JOIN n), " +
          "r AS (SELECT doc_id, term, tf, score, " +
          "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rnk " +
          "FROM sc) " +
          "SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk")),

    // Corpus-trained bigram LM quality scoring (LangModel.bigramNll — the
    // CCNet-style "perplexity gate"): add-one-smoothed bigram model trained
    // on the corpus itself, each document scored by its average negative
    // log-likelihood. Counts are exact integers; the ln sum crosses the
    // oracle through the f32 squeeze. The DuckDB replay re-derives the
    // whole model: token pairing via lead() over ordinality, the same
    // c12/c1/V arithmetic, the same smoothing.
    NamedQuery(
      "t11_bigram_nll",
      (s, dir) =>
        LangModel
          .bigramNll(t(s, dir, "documents").select("doc_id", "text"))
          .orderBy("doc_id"),
      Some(
        s"WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents), " +
          "pos AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos " +
          "FROM tk WHERE len(toks) >= 2), " +
          "bg AS (SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM pos), " +
          "bgn AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n FROM bg " +
          "WHERE w2 IS NOT NULL GROUP BY doc_id, w1, w2), " +
          "c12t AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12 FROM bgn GROUP BY w1, w2), " +
          "c1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12t GROUP BY w1), " +
          "v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM " +
          "(SELECT unnest(toks) AS w FROM tk)), " +
          "lp AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, " +
          "sum(CAST(n AS DOUBLE) * ln((CAST(c12 AS DOUBLE) + 1.0) / " +
          "(CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))) AS s " +
          "FROM bgn JOIN c12t USING (w1, w2) JOIN c1t USING (w1) CROSS JOIN v GROUP BY doc_id) " +
          "SELECT doc_id, n_bigrams, " +
          "round(CAST(CAST(-s / CAST(n_bigrams AS DOUBLE) AS REAL) AS DOUBLE), 4) + 0.0 AS avg_nll " +
          "FROM lp ORDER BY doc_id")),

    // PMI collocation mining (LangModel.pmiCollocations): the corpus's
    // strongest adjacent-pair associations — ln(c12·T/(c1·c2)) over exact
    // integer counts, global cut via TakeOrdered with (w1, w2) ties so
    // the boundary SET is deterministic. The min-count floor (5) keeps
    // the rare-pair PMI spike out, the standard collocation hygiene.
    NamedQuery(
      "t12_pmi_collocations",
      (s, dir) =>
        LangModel
          .pmiCollocations(t(s, dir, "documents").select("doc_id", "text"), minCount = 5L, topK = 20)
          .orderBy(col("pmi").desc, col("w1"), col("w2")),
      Some(
        s"WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents), " +
          "pos AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos " +
          "FROM tk WHERE len(toks) >= 2), " +
          "bg AS (SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM pos), " +
          "c12t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg " +
          "WHERE w2 IS NOT NULL GROUP BY w1, w2), " +
          "c1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12t GROUP BY w1), " +
          "c2t AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12t GROUP BY w2), " +
          "tt AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM c12t), " +
          "sc AS (SELECT w1, w2, c12, " +
          "round(CAST(CAST(ln((CAST(c12 AS DOUBLE) * CAST(t AS DOUBLE)) / " +
          "(CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS REAL) AS DOUBLE), 4) + 0.0 AS pmi " +
          "FROM c12t JOIN c1t USING (w1) JOIN c2t USING (w2) CROSS JOIN tt WHERE c12 >= 5) " +
          "SELECT w1, w2, c12, pmi FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20")),

    // The composite curation GATE — what a production pipeline actually
    // runs: every document (plus t07's planted spam) judged by four
    // independent rules at once — length in [10, 1000] tokens,
    // repetition (top-token share ≤ 0.3 AND dup-bigram fraction ≤ 0.4,
    // t07's bars), quality score ≥ 0.35 (t03's f32-squeezed composite),
    // confident language id (t04's classifier ≠ 'und') — emitting a
    // keep verdict AND a fail bitmask (bit0 len, bit1 rep, bit2 qual,
    // bit3 lang) so a curator sees WHY each document fell. One cached
    // tokenization feeds all four rules; everything else is combinable
    // aggregates + row-local expressions. The oracle recomputes all
    // four rules and the bitmask from scratch.
    NamedQuery(
      "t13_quality_gate",
      (s, dir) => {
        val real = t(s, dir, "documents")
        val junk = real.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), repeat(lit("spam offer "), 40).as("text"))
        val docs = real.select("doc_id", "text").unionByName(junk)
        val toks = graft.CacheScope.track(
          // rebalance before the CPU-dominant tokenize and the cache (the
          // shingleRows rule): the union of two one-file scans tokenized
          // and cached on two partitions, serializing the three
          // downstream aggregation passes over it
          docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks")).cache())
        val base = toks.select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          f32round(TextOps.qualityScore(col("text")), 4).as("quality"),
          TextOps.langId(col("text")).as("plang"))
        val tokAgg = toks
          .select(col("doc_id"), explode(col("toks")).as("tk"))
          .groupBy("doc_id", "tk").agg(count(lit(1)).as("n"))
          .groupBy("doc_id").agg(max("n").as("top_tok"), sum("n").as("tot_tok"))
        val bigAgg = toks
          .select(col("doc_id"), explode(TextOps.shingles(col("toks"), 2)).as("sh"))
          .groupBy("doc_id", "sh").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("dist_big"), sum("n").as("tot_big"))
        base
          .join(tokAgg, Seq("doc_id"), "left")
          .join(bigAgg, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("n_tokens"),
            (when(col("n_tokens") < 10 || col("n_tokens") > 1000, 1).otherwise(0) +
              when(
                round(coalesce(col("top_tok") / col("tot_tok"), lit(0.0)), 4) > 0.3 ||
                  round(coalesce(lit(1.0) - col("dist_big") / col("tot_big"), lit(0.0)), 4) > 0.4,
                2).otherwise(0) +
              when(col("quality") < 0.35, 4).otherwise(0) +
              when(col("plang") === "und", 8).otherwise(0)).cast("int").as("fail_mask"))
          .withColumn("keep", (col("fail_mask") === 0).cast("boolean"))
          .orderBy("doc_id")
      },
      Some {
        val stopList = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        def langScore(l: String): String = {
          val markers = TextOps.LangMarkers.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(w, x -> list_contains($markers, x))) AS s_$l"
        }
        "WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 200000 AS doc_id, repeat('spam offer ', 40) AS text " +
          "FROM documents WHERE doc_id % 50 = 0), " +
          s"tok AS (SELECT doc_id, text, $duckToks AS w FROM all_docs), " +
          "base AS (SELECT doc_id, len(w) AS n_tokens, " +
          "round(CAST(CAST(greatest(0.0, least(1.0, " +
          "0.3 * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) " +
          "+ 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / greatest(1, len(w))) " +
          "+ 0.2 * least(stop_ratio * 5.0, 1.0) " +
          "- 0.4 * (punct_ratio + digit_ratio) + 0.2)) AS REAL) AS DOUBLE), 4) + 0.0 AS quality, " +
          "CASE WHEN s_en = best AND best > 0 THEN 'en' WHEN s_es = best AND best > 0 THEN 'es' " +
          "WHEN s_fr = best AND best > 0 THEN 'fr' WHEN s_de = best AND best > 0 THEN 'de' " +
          "ELSE 'und' END AS plang FROM (" +
          "SELECT doc_id, w, stop_ratio, punct_ratio, digit_ratio, s_en, s_es, s_fr, s_de, " +
          "greatest(s_en, s_es, s_fr, s_de) AS best FROM (" +
          "SELECT doc_id, w, " +
          raw"CAST(len(regexp_extract_all(text, '[.,;:!?''\"()\[\]{}-]')) AS DOUBLE) / greatest(1, len(text)) AS punct_ratio, " +
          "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(1, len(text)) AS digit_ratio, " +
          s"CAST(len(list_filter(w, x -> list_contains($stopList, x))) AS DOUBLE) / greatest(1, len(w)) AS stop_ratio, " +
          s"${langScore("en")}, ${langScore("es")}, ${langScore("fr")}, ${langScore("de")} FROM tok))), " +
          "tokc AS (SELECT doc_id, t, count(*) AS n FROM " +
          "(SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t), " +
          "toka AS (SELECT doc_id, max(n) AS top_tok, sum(n) AS tot_tok FROM tokc GROUP BY doc_id), " +
          "bigc AS (SELECT doc_id, b, count(*) AS n FROM (SELECT doc_id, " +
          "unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)), i -> w[i] || ' ' || w[i+1])) AS b " +
          "FROM tok) GROUP BY doc_id, b), " +
          "biga AS (SELECT doc_id, count(*) AS dist_big, sum(n) AS tot_big FROM bigc GROUP BY doc_id), " +
          "m AS (SELECT base.doc_id, n_tokens, " +
          "(CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 1 ELSE 0 END + " +
          "CASE WHEN round(coalesce(CAST(top_tok AS DOUBLE) / tot_tok, 0.0), 4) > 0.3 " +
          "OR round(coalesce(1.0 - CAST(dist_big AS DOUBLE) / tot_big, 0.0), 4) > 0.4 THEN 2 ELSE 0 END + " +
          "CASE WHEN quality < 0.35 THEN 4 ELSE 0 END + " +
          "CASE WHEN plang = 'und' THEN 8 ELSE 0 END) AS fail_mask " +
          "FROM base LEFT JOIN toka USING (doc_id) LEFT JOIN biga USING (doc_id)) " +
          "SELECT doc_id, n_tokens, CAST(fail_mask AS INTEGER) AS fail_mask, " +
          "fail_mask = 0 AS keep FROM m ORDER BY doc_id"
      }),

    // Keyword-in-context concordance (the corpus-inspection tool behind
    // "show me how the corpus uses this term"): every occurrence of the
    // keyword with ±3 tokens of context. Occurrence positions come from
    // a row-local filter over a sequence (the token array is NEVER
    // exploded wholesale — a posexplode would copy the full array into
    // every token row), context slices are row-local too; the only
    // shuffle is the output sort. All-string/integer → DuckDB replays
    // every position and slice exactly.
    NamedQuery(
      "t14_kwic_concordance",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .withColumn("p", explode(expr("filter(sequence(1, size(toks)), q -> toks[q - 1] = 'vector')")))
          .select(
            col("doc_id"),
            col("p").cast("int").as("pos"),
            array_join(expr("slice(toks, greatest(1, p - 3), p - greatest(1, p - 3))"), " ")
              .as("left_ctx"),
            array_join(expr("slice(toks, p + 1, least(3, size(toks) - p))"), " ")
              .as("right_ctx"))
          .orderBy("doc_id", "pos"),
      Some(
        s"WITH tk AS (SELECT doc_id, $duckToks AS w FROM documents), " +
          "hits AS (SELECT doc_id, w, unnest(list_filter(generate_series(1, len(w)), " +
          "q -> w[q] = 'vector')) AS p FROM tk) " +
          "SELECT doc_id, CAST(p AS INTEGER) AS pos, " +
          "coalesce(array_to_string(w[CASE WHEN p - 3 < 1 THEN 1 ELSE p - 3 END : p - 1], ' '), '') AS left_ctx, " +
          "coalesce(array_to_string(w[p + 1 : CASE WHEN p + 3 > len(w) THEN len(w) ELSE p + 3 END], ' '), '') AS right_ctx " +
          "FROM hits ORDER BY doc_id, pos")),

    // SCD-2 change capture over the orders stream: each customer's
    // priority history collapsed to versioned rows with half-open
    // [valid_from, valid_to) windows (Scd.scd2 — ONE shuffle on the key,
    // both windows reuse the partitioning). The warehouse MERGE/CDC
    // primitive; deterministic under (o_orderdate, o_orderkey) ordering.
    NamedQuery(
      "p07_scd2_versions",
      (s, dir) =>
        Scd
          .scd2(t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
          .orderBy("o_custkey", "version"),
      Some(
        "WITH m AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority, " +
          "lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
          "FROM orders), " +
          "c AS (SELECT * FROM m WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority), " +
          "v AS (SELECT o_custkey, CAST(row_number() OVER w AS INTEGER) AS version, o_orderpriority, " +
          "o_orderdate AS valid_from, lead(o_orderdate) OVER w AS valid_to " +
          "FROM c WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) " +
          "SELECT o_custkey, version, o_orderpriority, valid_from, valid_to, " +
          "valid_to IS NULL AS is_current FROM v ORDER BY o_custkey, version")),

    // Deterministic epoch shuffle: every document's position in a seeded
    // pseudo-random permutation of the corpus plus a balanced contiguous
    // shard (EpochShuffle.shuffle — two-level rank over ONE range
    // shuffle, never a single-task global window). The oracle replays the
    // identical portable hash ((id % P) * seedMult + seedAdd) % P and the
    // naive row_number rank, so hash-green certifies the distributed
    // prefix-sum equals the global sort order exactly, position by
    // position — the "shuffle then shard to data loaders" epoch step.
    NamedQuery(
      "p08_epoch_shuffle",
      (s, dir) =>
        EpochShuffle
          .shuffle(t(s, dir, "documents").select("doc_id"), "doc_id", seed = 20260813L, shards = 16)
          .orderBy("position"),
      Some {
        val m = EpochShuffle.seedMult(20260813L)
        val a = EpochShuffle.seedAdd(20260813L)
        val p = EpochShuffle.P
        s"WITH h AS (SELECT doc_id, ((doc_id % $p) * $m + $a) % $p AS h FROM documents), " +
          "r AS (SELECT doc_id, h, CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS position, " +
          "CAST(count(*) OVER () AS BIGINT) AS n FROM h) " +
          "SELECT doc_id, h, position, position * 16 // n AS shard FROM r ORDER BY position"
      }),

    // Time-series gap-fill / resample: per-type daily event counts
    // DENSIFIED over the full observed [min_day, max_day] range — missing
    // (day, type) cells materialize as zeros. The dense calendar grid is
    // sequence()-generated from one 1-row min/max aggregate and
    // cross-joined with the distinct type set (both broadcast-sized
    // metadata at any scale); the observed counts LEFT-join onto the
    // grid, so the fact table pays exactly one aggregation shuffle and
    // the densification itself moves no data. The standard warehouse
    // resample shape (a window-lag interpolation would be the same grid
    // + one more window).
    NamedQuery(
      "q34_gap_fill",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
        val daily = ev
          .groupBy("day", "event_type")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        val span = ev.agg(min("day").as("d0"), max("day").as("d1"))
        val grid = span
          .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
          .crossJoin(ev.select("event_type").distinct())
        grid
          .join(daily, Seq("day", "event_type"), "left")
          .select(
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("event_type"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
          .orderBy("day", "event_type")
      },
      Some(
        "WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events), " +
          "daily AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events, " +
          "round(sum(value), 2) AS sum_value FROM ev GROUP BY day, event_type), " +
          "span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev), " +
          "grid AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day " +
          "FROM span), " +
          "full_grid AS (SELECT g.day, t.event_type FROM grid g " +
          "CROSS JOIN (SELECT DISTINCT event_type FROM ev) t) " +
          "SELECT strftime(f.day, '%Y-%m-%d') AS day, f.event_type, " +
          "COALESCE(d.n_events, 0) AS n_events, COALESCE(d.sum_value, 0.0) AS sum_value " +
          "FROM full_grid f LEFT JOIN daily d ON f.day = d.day AND f.event_type = d.event_type " +
          "ORDER BY 1, 2")),

    // Per-group outlier screening: z-score each event's value against its
    // type's mean/stddev and keep |z| > 3 — the data-quality gate that
    // precedes any aggregate a pipeline trusts. The per-type stats are a
    // one-row-per-group aggregate (map-side partial) broadcast back onto
    // the fact stream, so the facts pay ZERO extra shuffles — scan, probe
    // the tiny stats table, filter. The |z| > 3 cut is taken on the SAME
    // f32-squeezed+rounded z that crosses the oracle: Spark and DuckDB
    // sum in different orders, so a raw-double z a few ulps either side
    // of 3.0 could otherwise be admitted by one engine and dropped by the
    // other, flipping the row set at a new scale factor.
    NamedQuery(
      "q35_value_outliers",
      (s, dir) => {
        val ev = t(s, dir, "events").select("event_id", "event_type", "value")
        val stats = ev
          .groupBy("event_type")
          .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sigma"))
        ev.join(broadcast(stats), Seq("event_type"))
          .withColumn("z", f32round((col("value") - col("mu")) / col("sigma"), 3))
          .filter(abs(col("z")) > 3.0)
          .select(
            col("event_id"), col("event_type"),
            round(col("value"), 4).as("value"),
            col("z"))
          .orderBy("event_id")
      },
      Some(
        "WITH stats AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma " +
          "FROM events GROUP BY event_type), " +
          "z AS (SELECT e.event_id, e.event_type, e.value, " +
          "round(CAST(CAST((e.value - s.mu) / s.sigma AS REAL) AS DOUBLE), 3) + 0.0 AS z " +
          "FROM events e JOIN stats s USING (event_type)) " +
          "SELECT event_id, event_type, round(value, 4) AS value, z " +
          "FROM z WHERE abs(z) > 3.0 ORDER BY event_id")),

    // The corpus-to-epoch pipeline END TO END in one oracled query:
    // quality gate (n_chars ≥ 200) → exact-dedup keepers (min doc_id per
    // sha256) → temperature targets per language (p02's formulas, alpha
    // 0.5, 2000 rows) → per-group quota sample at those targets
    // (Sampling.quotaByTargets — the execution half of the mix) → epoch
    // shuffle positions + shards (p08's two-level rank). Every stage is
    // individually portable, so DuckDB replays the WHOLE chain from first
    // principles — hash-green certifies the composition, not just the
    // parts: the exact documents sampled, their permutation positions,
    // and their shard assignment.
    NamedQuery(
      "p09_epoch_plan",
      (s, dir) => {
        val kept = {
          val q = t(s, dir, "documents")
            .filter(col("n_chars") >= 200)
            .select("doc_id", "lang", "text")
          val keepers = q
            .groupBy(sha2(col("text"), 256).as("h"))
            .agg(min("doc_id").as("doc_id"))
            .select("doc_id")
          q.join(keepers, Seq("doc_id")).select("doc_id", "lang")
        }
        val targets = Sampling
          .temperatureTargets(kept, "lang", 0.5, 2000L)
          .select("lang", "target_rows")
        val sampled = Sampling.quotaByTargets(kept, "lang", "doc_id", targets)
        EpochShuffle
          .shuffle(sampled.select("doc_id"), "doc_id", seed = 9L, shards = 8)
          .join(sampled, Seq("doc_id"))
          .select("doc_id", "lang", "position", "shard")
          .orderBy("position")
      },
      Some {
        val m = EpochShuffle.seedMult(9L)
        val a = EpochShuffle.seedAdd(9L)
        val p = EpochShuffle.P
        "WITH q AS (SELECT doc_id, lang, text FROM documents WHERE n_chars >= 200), " +
          "k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text)), " +
          "kept AS (SELECT q.doc_id, q.lang FROM q JOIN k USING (doc_id)), " +
          "counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_rows FROM kept GROUP BY lang), " +
          "tw AS (SELECT lang, CAST(CAST(pow(CAST(n_rows AS DOUBLE), 0.5) AS REAL) AS DOUBLE) AS weight FROM counts), " +
          "sh AS (SELECT lang, CAST(CAST(weight / sum(weight) OVER () AS REAL) AS DOUBLE) AS share FROM tw), " +
          "tg AS (SELECT lang, CAST(floor(share * 2000.0 + 0.5) AS BIGINT) AS target_rows FROM sh), " +
          "samp AS (SELECT doc_id, lang FROM (SELECT kept.doc_id, kept.lang, tg.target_rows, " +
          "row_number() OVER (PARTITION BY kept.lang " +
          "ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn " +
          "FROM kept JOIN tg USING (lang)) WHERE rn <= target_rows), " +
          s"hsh AS (SELECT doc_id, lang, ((doc_id % $p) * $m + $a) % $p AS h FROM samp), " +
          "r AS (SELECT doc_id, lang, h, " +
          "CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS position, " +
          "CAST(count(*) OVER () AS BIGINT) AS n FROM hsh) " +
          "SELECT doc_id, lang, position, position * 8 // n AS shard FROM r ORDER BY position"
      }),

    // Weighted sampling without replacement (Sampling.weightedSample,
    // Efraimidis–Spirakis A-ES): top-20 docs per lang by the key
    // ln(u)/weight with u the deterministic hash-uniform of the id and
    // weight = n_chars — the quality-weighted downsample. ln is the one
    // libm step, absorbed by ranking on the float32-squeezed key (the
    // temperatureTargets convention); the hash-uniform is pure integer
    // arithmetic, so DuckDB replays the exact selection and hash-green
    // certifies membership AND the weighted order of every group.
    NamedQuery(
      "p10_weighted_sample",
      (s, dir) =>
        Sampling
          .weightedSample(
            t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
            "lang", "doc_id", "n_chars", n = 20)
          .orderBy("lang", "doc_id"),
      Some(
        "SELECT lang, doc_id, n_chars FROM (SELECT lang, doc_id, n_chars, " +
          "row_number() OVER (PARTITION BY lang ORDER BY " +
          "CAST(CAST(ln(CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE) / 4294967296.0) " +
          "/ CAST(n_chars AS DOUBLE) AS REAL) AS DOUBLE) DESC, doc_id) AS rn " +
          "FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id")),

    // Curriculum binning by exact token-count quantiles
    // (Sampling.quantileBins): 8 equal-population buckets — the
    // "schedule short documents first" primitive. NOT ntile (a global
    // single-task sort): the rows reduce to a length HISTOGRAM, the
    // boundary array comes from a cumulative sum over that metadata-sized
    // table, and the assignment is a broadcast rejoin — all-integer, so
    // the oracle replays the identical boundaries and bins.
    NamedQuery(
      "p11_curriculum_bins",
      (s, dir) =>
        Sampling
          .quantileBins(
            t(s, dir, "documents")
              .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
            "n_tokens", bins = 8)
          .select(col("doc_id"), col("n_tokens"), col("bin"))
          .orderBy("doc_id"),
      Some(
        s"WITH lens AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents), " +
          "hist AS (SELECT n_tokens AS v, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY v), " +
          "cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n FROM hist), " +
          "bs AS (SELECT unnest(generate_series(1, 7)) AS b), " +
          "bnd AS (SELECT b, min(v) AS boundary FROM cum CROSS JOIN bs " +
          "WHERE cum >= (b * n + 7) // 8 GROUP BY b) " +
          "SELECT l.doc_id, l.n_tokens, CAST(1 + " +
          "(SELECT count(*) FROM bnd WHERE boundary < l.n_tokens) AS INTEGER) AS bin " +
          "FROM lens l ORDER BY doc_id")),

    // Z-order layout + zone-map pruning: Morton-interleave (partkey,
    // suppkey) (ZOrder.interleave — a codegen'd bitwise ladder), bucket by
    // the code's high bits (each bucket IS a contiguous z-range), build
    // per-bucket min/max zone maps in the same single aggregation, and
    // answer a 2-D range predicate from only the overlapping buckets —
    // the multi-dimensional data-skipping layout (OPTIMIZE ZORDER) as a
    // checkable query. The FULL zone map ships with an is_candidate flag
    // (fixture: 2 of 32 buckets survive the [100,180]×[20,45] box — 16×
    // skip), so DuckDB's replay of the identical bit ladder certifies the
    // codes, every zone map row, the pruning decision per bucket, AND
    // completeness: n_match > 0 only where is_candidate, a fact the hash
    // covers because non-candidate rows carry their (all-zero) n_match.
    NamedQuery(
      "q32_zorder_stats",
      (s, dir) => {
        val src = t(s, dir, "lineitem").select(
          pmod(col("l_partkey"), lit(1024L)).as("a"),
          pmod(col("l_suppkey"), lit(1024L)).as("b"))
        src
          .withColumn("bucket", shiftright(graft.rel.ZOrder.interleave(col("a"), col("b")), 12))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n_rows"),
            min("a").as("a_min"), max("a").as("a_max"),
            min("b").as("b_min"), max("b").as("b_max"),
            sum(when(col("a").between(100, 180) && col("b").between(20, 45), lit(1L)).otherwise(lit(0L)))
              .as("n_match"))
          .withColumn(
            "is_candidate",
            col("a_min") <= 180 && col("a_max") >= 100 && col("b_min") <= 45 && col("b_max") >= 20)
          .orderBy("bucket")
      },
      Some(
        "WITH src AS (SELECT l_partkey % 1024 AS a, l_suppkey % 1024 AS b FROM lineitem), " +
          "s1 AS (SELECT a, b, (a | (a << 8)) & 16711935 AS a1, (b | (b << 8)) & 16711935 AS b1 FROM src), " +
          "s2 AS (SELECT a, b, (a1 | (a1 << 4)) & 252645135 AS a2, (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1), " +
          "s3 AS (SELECT a, b, (a2 | (a2 << 2)) & 858993459 AS a3, (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2), " +
          "s4 AS (SELECT a, b, (a3 | (a3 << 1)) & 1431655765 AS a4, (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3), " +
          "z AS (SELECT a, b, (a4 | (b4 << 1)) >> 12 AS bucket FROM s4), " +
          "zones AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, " +
          "min(a) AS a_min, max(a) AS a_max, min(b) AS b_min, max(b) AS b_max, " +
          "CAST(sum(CASE WHEN a BETWEEN 100 AND 180 AND b BETWEEN 20 AND 45 THEN 1 ELSE 0 END) AS BIGINT) AS n_match " +
          "FROM z GROUP BY bucket) " +
          "SELECT *, a_min <= 180 AND a_max >= 100 AND b_min <= 45 AND b_max >= 20 AS is_candidate " +
          "FROM zones ORDER BY bucket")),

    // Batch MERGE / upsert (Merge.applyChangelog): a deterministic
    // changelog derived from orders — updates (+100 on every 10th key),
    // deletes (every 17th ≡ 3; keys hit by both resolve by ord: the
    // later delete wins), inserts (new keys +10⁸ for every 1000th ≡ 1) —
    // applied latest-op-per-key. The snapshot side is never shuffled:
    // the collapsed changelog meets it through a left join + left-anti
    // pair the optimizer broadcasts at increment scale. The oracle
    // replays the same MERGE semantics in SQL, so hash-green certifies
    // passthrough, replacement, deletion, insertion, AND the op-ordering
    // tie rule over every key of the table.
    NamedQuery(
      "q33_merge_upsert",
      (s, dir) => {
        val snap = ordersSnapshot(s, dir)
        Merge
          .applyChangelog(snap, ordersChangelog(snap), "o_orderkey", "ord", "op")
          .orderBy("o_orderkey")
      },
      Some(mergeOracleSql)),

    // =====================================================================
    // Round-11 wave
    // =====================================================================

    // JL random-projection ANN (RandomProjection.topK): the corpus drops
    // from 64 to 16 dims through a seeded ±1 Rademacher matrix whose
    // entry (i,j) is a pure multiplicative-hash function of its
    // coordinates — never materialized, portable to SQL — candidates come
    // from an L2 scan in the reduced space (¼ the float traffic), and an
    // exact re-rank restores metric fidelity. Multiplying by ±1.0 is
    // exact and both engines fold dimensions in the same ascending order,
    // so every projected coordinate is BITWISE reproducible: the oracle
    // replays projection, candidate cut, and re-rank from first
    // principles — the only ANN family needing no recall bar at all.
    NamedQuery(
      "v24_random_projection_knn",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        RandomProjection
          .topK(emb, embQueries(s, dir, 5), dIn = dim, m = 16, k = 10, cand = 40)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(col("dist2"), 3).as("dist2"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          "cp AS (SELECT vec_id, list_transform(generate_series(0, 15), j -> " +
          "list_sum(list_transform(generate_series(0, 63), i -> " +
          "CAST(embedding[i+1] AS DOUBLE) * (1.0 - 2.0 * CAST((((i*16 + j + 1) * 2654435761) % 2038074743) % 2 AS DOUBLE))))) AS proj " +
          "FROM embeddings), " +
          "qp AS (SELECT query_id, list_transform(generate_series(0, 15), j -> " +
          "list_sum(list_transform(generate_series(0, 63), i -> " +
          "CAST(qvec[i+1] AS DOUBLE) * (1.0 - 2.0 * CAST((((i*16 + j + 1) * 2654435761) % 2038074743) % 2 AS DOUBLE))))) AS qproj " +
          "FROM q), " +
          "h AS (SELECT qp.query_id, c.vec_id, list_sum(list_transform(generate_series(1, 16), j -> " +
          "(c.proj[j] - qp.qproj[j]) * (c.proj[j] - qp.qproj[j]))) AS pd FROM cp c CROSS JOIN qp), " +
          "cand AS (SELECT query_id, vec_id, row_number() OVER " +
          "(PARTITION BY query_id ORDER BY pd ASC, vec_id ASC) AS crnk FROM h), " +
          "d AS (SELECT cand.query_id, cand.vec_id, " +
          "list_sum(list_transform(generate_series(1, len(e.embedding)), i -> " +
          "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)) * " +
          "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)))) AS dist2 " +
          "FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id " +
          "JOIN q ON q.query_id = cand.query_id WHERE cand.crnk <= 40), " +
          "r AS (SELECT query_id, vec_id, dist2, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dist2 AS REAL) AS DOUBLE), 3) + 0.0 AS dist2 " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // CCNet-style LINE-level boilerplate removal (LineDedup
    // .dropBoilerplateLines): aligned 8-token chunks stand in for lines
    // (the fixture has no newlines); a line carried by ≥2 DISTINCT docs
    // is boilerplate and is scrubbed from every carrier, the rest of
    // each doc reassembled in order — edit, don't drop. Docs 0–4 are
    // planted as full copies under -(doc_id+1) (the d10 convention), so
    // their every line — and their sources' — must vanish, on top of the
    // natural short-tail-chunk collisions a 30-word vocabulary yields.
    // All-string exact arithmetic; the oracle recomputes every chunk,
    // the distinct-doc counts, and each REASSEMBLED text, so hash-green
    // certifies the rewritten corpus byte for byte.
    NamedQuery(
      "d14_line_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs
          .filter(col("doc_id") < 5)
          .select((-(col("doc_id") + 1L)).as("doc_id"), col("text"))
        LineDedup
          .dropBoilerplateLines(docs.unionByName(planted), lineTokens = 8, minDocs = 2)
          .orderBy("doc_id")
      },
      Some(
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 5), " +
          s"tok AS (SELECT doc_id, $duckToks AS w FROM corpus), " +
          "lin AS (SELECT doc_id, i AS line_idx, array_to_string(w[(i*8+1):(i*8+8)], ' ') AS line " +
          "FROM tok, unnest(generate_series(0, CAST(ceil(len(w) / 8.0) AS BIGINT) - 1)) AS u(i)), " +
          "dup AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd FROM lin GROUP BY line) WHERE nd >= 2), " +
          "f AS (SELECT doc_id, line_idx, line, line IN (SELECT line FROM dup) AS is_dup FROM lin), " +
          "g AS (SELECT doc_id, coalesce(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE NOT is_dup), '') AS text, " +
          "CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed " +
          "FROM f GROUP BY doc_id) " +
          // zero-line docs (empty text) never reach f — reinstate like the engine
          "SELECT c.doc_id, coalesce(g.text, '') AS text, coalesce(g.n_lines, 0) AS n_lines, " +
          "coalesce(g.n_removed, 0) AS n_removed FROM corpus c LEFT JOIN g USING (doc_id) ORDER BY doc_id")),

    // Character-level unigram entropy — the randomness/quality signal
    // that catches encoding junk, repeated-char padding, and base64
    // blobs (low OR pathologically high entropy). Computed via the
    // identity H = ln n − (Σ c·ln c)/n over per-(doc, char) counts: one
    // explode + two codegen'd hash aggregations — no per-row HOF lambda
    // work (a row-local alphabet fold measured 10.4 s at sf0.1 and
    // scales O(alphabet · doc length) per row; this shape is linear and
    // survives megabyte documents). Count sums are exact integers; the
    // two libm ln calls and the grouped double sum are absorbed by the
    // f32 squeeze on both engines (the t03/t10 discipline).
    NamedQuery(
      "t15_char_entropy",
      (s, dir) => {
        val cs = filter(split(lower(col("text")), ""), c => length(c) > 0)
        val ent = log(col("n").cast("double")) - col("slc") / col("n").cast("double")
        t(s, dir, "documents")
          .select(col("doc_id"), explode(cs).as("ch"))
          .groupBy("doc_id", "ch")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg(
            sum("cnt").as("n"),
            count(lit(1)).as("n_distinct"),
            sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("slc"))
          .select(
            col("doc_id"),
            col("n").as("n_chars"),
            col("n_distinct"),
            f32round(ent, 4).as("entropy_nats"),
            f32round(ent / log(lit(2.0)), 4).as("bits_per_char"))
          .orderBy("doc_id")
      },
      Some(
        "WITH c AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '.')) AS ch FROM documents), " +
          "g AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2), " +
          "e AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_distinct, " +
          "sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS slc FROM g GROUP BY doc_id) " +
          "SELECT doc_id, n AS n_chars, n_distinct, " +
          "round(CAST(CAST(ln(CAST(n AS DOUBLE)) - slc / n AS REAL) AS DOUBLE), 4) + 0.0 AS entropy_nats, " +
          "round(CAST(CAST((ln(CAST(n AS DOUBLE)) - slc / n) / ln(2.0) AS REAL) AS DOUBLE), 4) + 0.0 AS bits_per_char " +
          "FROM e ORDER BY doc_id")),

    // Bloom-filter semi-join reduction (BloomJoin.bloomSemiFilter): the
    // orders fact side is pre-filtered by a broadcast Bloom filter built
    // over the selective customer keys BEFORE any shuffle — the manual
    // form of SPARK-32268's runtime row filter, as an operator a pipeline
    // can aim at a 100 TB fact scan even when the planner declines.
    // False positives only waste shuffle bytes (the join removes them),
    // so the result is EXACTLY the plain join at any fpp — which is what
    // the oracle hash proves. The final sum runs in DECIMAL(18,2) (exact
    // integer cents) and is cast back to double only for display, so the
    // aggregate carries no float summation-order wobble at any scale.
    NamedQuery(
      "q37_bloom_join",
      (s, dir) => {
        val dims = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 7000)
          .select(col("c_custkey"), col("c_nationkey"))
        val facts = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        val pruned = BloomJoin
          .bloomSemiFilter(facts, "o_custkey", dims, "c_custkey", expectedItems = 1L << 20, fpp = 0.01)
        pruned
          .join(dims, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("spend"))
          .orderBy("c_nationkey")
      },
      Some(
        "SELECT c_nationkey, count(*) AS n_orders, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS spend " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7000 " +
          "GROUP BY c_nationkey ORDER BY c_nationkey")),

    // Incremental materialized-view maintenance (IncrementalMv): the
    // daily per-type event view kept as MERGEABLE partial states
    // (count/sum/min/max — Gray et al.'s distributive aggregates), the
    // nightly delta folded in by state merge instead of base recompute —
    // at 100 TB only the delta moves, the standing view is a groups-sized
    // table. The split (event_id % 4) puts delta rows in EVERY group, so
    // the merge path is exercised everywhere; the oracle recomputes the
    // view from the full base, proving partial+merge ≡ recompute. AVG is
    // derived from (sum, n) at read time — it doesn't merge. Sums are
    // f32-squeezed on both sides (the two-phase fold re-associates the
    // float addition).
    NamedQuery(
      "q38_incremental_mv",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val base  = IncrementalMv.partials(ev.filter(col("event_id") % 4 =!= 0))
        val delta = IncrementalMv.partials(ev.filter(col("event_id") % 4 === 0))
        mvFinalize(IncrementalMv.merge(base, delta))
      },
      Some(mvOracleSql)),

    // NATIVE session windows (functions.session_window) as a stream —
    // the built-in that covers the common case s03's custom
    // flatMapGroupsWithState exists to generalize: per-user sessions
    // closing 30 min after the LAST event, state merged by the session
    // operator itself and flushed when the watermark passes a session's
    // end. Same file-source + sentinel scaffolding as s03; the emitted
    // sessions must equal the batch gap-sessionization the oracle
    // computes. Boundary semantics (SessionWindowSpec-pinned): Spark
    // merges sessions at a gap of EXACTLY the window length (closed
    // [ts, ts+gap] merge test), so is_new fires only on a gap STRICTLY
    // greater — identical to q22's `>` rule.
    NamedQuery(
      "s13_session_window",
      (s, dir) => {
        import s.implicits._
        val evBatch = t(s, dir, "events")
          .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
        val tmp = java.nio.file.Files.createTempDirectory("s13_events_")
        val qname = s"s13_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          evBatch.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(evBatch.schema).parquet(inDir)
            .withWatermark("ts", "1 minute")
          val out = stream
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"), min("us").as("start_us"), max("us").as("end_us"))
            .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable()
            val maxUs = evBatch.agg(max("us")).head().getLong(0)
            def sentinel(days: Long) = Seq(
              (-1L, new java.sql.Timestamp(maxUs / 1000L + days * 24 * 3600 * 1000), maxUs))
              .toDF("user_id", "ts", "us")
            // first sentinel advances the watermark; second triggers the
            // cycle that observes it advanced and flushes closed sessions
            sentinel(40L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
            sentinel(80L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("start_us")
          val shaped = s.table(qname)
            .filter(col("user_id") >= 0)
            .select(
              col("user_id"),
              row_number().over(w).as("session_idx"),
              col("n_events"),
              col("start_us"),
              (col("end_us") - col("start_us")).as("dur_us"))
            .orderBy("user_id", "session_idx")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT user_id, session_idx, count(*) AS n_events, min(us) AS start_us, " +
          "max(us) - min(us) AS dur_us FROM (" +
          "SELECT user_id, us, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM (" +
          "SELECT user_id, event_id, us, CASE WHEN prev IS NULL OR us - prev > 30*60*1000000 " +
          "THEN 1 ELSE 0 END AS is_new FROM (" +
          "SELECT user_id, event_id, epoch_us(ts) AS us, " +
          "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev " +
          "FROM events))) GROUP BY user_id, session_idx ORDER BY user_id, session_idx")),

    // Streaming approximate distinct (HLL++ as complete-mode streaming
    // state — the s09/s12 streaming-sketch story for COUNT DISTINCT):
    // per-type distinct users accumulate across micro-batches in O(HLL
    // registers) state for any stream length. Register merge is a
    // pointwise max — commutative and idempotent — so micro-batch slicing
    // cannot change the estimate, and the q31 bound-flag certifies it:
    // the streaming estimate at rsd 0.01 must sit within 5% of the exact
    // batch distinct the oracle recomputes.
    NamedQuery(
      "s14_stream_approx_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
        val tmp = java.nio.file.Files.createTempDirectory("s14_events_")
        val qname = s"s14_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          ev.repartition(4).write.mode("overwrite").parquet(inDir)
          val src = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
          val agg = src
            .groupBy("event_type")
            .agg(approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
          val query = agg.writeStream
            .format("memory").queryName(qname).outputMode("complete").start()
          try query.processAllAvailable()
          finally query.stop()
          val exact = ev.groupBy("event_type")
            .agg(countDistinct(col("user_id")).as("n_exact"))
          val shaped = s.table(qname)
            .join(exact, Seq("event_type"))
            .select(
              col("event_type"),
              col("n_exact"),
              when(abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.05, 1L)
                .otherwise(0L).as("hll_ok"))
            .orderBy("event_type")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, " +
          "CAST(1 AS BIGINT) AS hll_ok FROM events GROUP BY event_type ORDER BY event_type")),

    // REAL image thumbnailing end to end (MultimodalOps.resizeBlockMean):
    // pattern PNGs (8-px uniform blocks, the m05 generator at jitter 0)
    // are decoded through the genuine ImageIO path, block-mean downscaled
    // 8× — each thumbnail pixel is the exact integer block value, since
    // a uniform tile's floor-mean is its value — re-encoded as real PNG
    // bytes, and decoded AGAIN for features. Every stage is the real
    // codec; the oracle predicts the final mean gray analytically from
    // the patternBlockValue formula, so hash-green certifies
    // encode → decode → resize → encode → decode with zero float
    // resampling anywhere.
    NamedQuery(
      "m07_image_resize",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(
            col("doc_id").as("asset_id"),
            (col("doc_id") * 17 + 3).as("seed"),
            lit(0).as("jitter"))
        val imgs = MultimodalOps.encodePatternImages(spec) // 72×64 px, 8-px blocks
        val thumbs = MultimodalOps.resizeBlockMean(imgs, "asset_id", "content", factor = 8)
        MultimodalOps
          .decodeImageIO(thumbs, "asset_id", "content")
          .select(
            col("asset_id"), col("decoded"), col("width"), col("height"),
            f32round(element_at(col("mean_rgb"), 1).cast("double"), 4).as("mean_gray"))
          .orderBy("asset_id")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, doc_id*17 + 3 AS seed FROM documents WHERE doc_id < 40), " +
          "grid AS (SELECT asset_id, seed*31 + x*7 + y*13 AS a " +
          "FROM spec, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)), " +
          "cells AS (SELECT asset_id, (a*a*7 + a*13) % 241 AS v FROM grid), " +
          "m AS (SELECT asset_id, sum(v) AS sv FROM cells GROUP BY asset_id) " +
          "SELECT asset_id, true AS decoded, 9 AS width, 8 AS height, " +
          "round(CAST(CAST(sv / 72.0 AS REAL) AS DOUBLE), 4) + 0.0 AS mean_gray " +
          "FROM m ORDER BY asset_id")),

    // Referential-integrity audit (DataQuality): the pre-flight a
    // pipeline runs before training on a joined corpus — orphaned
    // foreign keys (left-anti on the parent's pruned key column),
    // duplicated primary keys (count-filtered aggregate), each check a
    // declarative plan whose result is a metadata-sized count frame.
    // Violations are PLANTED (every 100th order re-keyed to an
    // impossible customer, every 500th duplicated) so the checks
    // demonstrably fire; the oracle recomputes every count from the same
    // dirty table.
    NamedQuery(
      "q39_integrity_audit",
      (s, dir) => {
        val cust = t(s, dir, "customer").select("c_custkey")
        val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val li = t(s, dir, "lineitem").select("l_orderkey")
        val orphans = orders
          .filter(col("o_orderkey") % 100 === 0)
          .select(
            (col("o_orderkey") + 1000000000L).as("o_orderkey"),
            (col("o_custkey") + 1000000000L).as("o_custkey"))
        val dups = orders.filter(col("o_orderkey") % 500 === 0)
        val dirty = orders.unionByName(orphans).unionByName(dups)
        DataQuality
          .auditCounts(
            "orders_orphan_custkey" -> DataQuality.orphans(dirty, "o_custkey", cust, "c_custkey"),
            "orders_dup_orderkey" -> DataQuality.duplicateKeys(dirty, "o_orderkey"),
            "lineitem_orphan_orderkey" -> DataQuality.orphans(li, "l_orderkey", dirty, "o_orderkey"))
          .orderBy("check_name")
      },
      Some(
        "WITH dirty AS (SELECT o_orderkey, o_custkey FROM orders " +
          "UNION ALL SELECT o_orderkey + 1000000000, o_custkey + 1000000000 FROM orders WHERE o_orderkey % 100 = 0 " +
          "UNION ALL SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 500 = 0) " +
          "SELECT 'lineitem_orphan_orderkey' AS check_name, CAST(count(*) AS BIGINT) AS n_violations " +
          "FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dirty) " +
          "UNION ALL SELECT 'orders_dup_orderkey', CAST(count(*) AS BIGINT) FROM " +
          "(SELECT o_orderkey FROM dirty GROUP BY 1 HAVING count(*) > 1) " +
          "UNION ALL SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT) " +
          "FROM dirty WHERE o_custkey NOT IN (SELECT c_custkey FROM customer) " +
          "ORDER BY check_name")),

    // Streaming tumbling-window top-k — the "trending items" shape: 6-h
    // windows aggregate per event type in append mode (watermark-bounded
    // state, the s01 sentinel flush), and the per-window top-3 rank is
    // taken over the EMITTED window aggregates (a metadata-sized frame —
    // ranking belongs after the stream, where the window's rows are
    // final). Emitted windows must equal the batch group-by, so one
    // batch oracle replays windows, counts, and ranks end to end.
    NamedQuery(
      "s15_stream_window_topk",
      (s, dir) => {
        import s.implicits._
        val evBatch = t(s, dir, "events").select(col("ts"), col("event_type"))
        val tmp = java.nio.file.Files.createTempDirectory("s15_events_")
        val qname = s"s15_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          evBatch.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(evBatch.schema).parquet(inDir)
            .withWatermark("ts", "1 minute")
          val out = stream
            .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"), col("n"))
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable()
            val maxTs = evBatch.agg(max(col("ts"))).head().getTimestamp(0)
            def sentinel(days: Long) = Seq(
              (new java.sql.Timestamp(maxTs.getTime + days * 24 * 3600 * 1000), "__sentinel"))
              .toDF("ts", "event_type")
            sentinel(40L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
            sentinel(80L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("window_start_us").orderBy(col("n").desc, col("event_type"))
          val shaped = s.table(qname)
            .filter(col("event_type") =!= "__sentinel")
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 3)
            .orderBy("window_start_us", "rnk")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH c AS (SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start_us, " +
          "event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
          "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY window_start_us " +
          "ORDER BY n DESC, event_type) AS INTEGER) AS rnk FROM c) " +
          "SELECT window_start_us, event_type, n, rnk FROM r WHERE rnk <= 3 ORDER BY 1, 4")),

    // Sparse tf·idf cosine near-dup (SparseSim.cosineAgainst): the
    // lexical similarity tier between MinHash's set Jaccard (d02/d08)
    // and embedding cosine (d09) — documents as corpus-idf-weighted
    // sparse vectors, probe-vs-corpus cosine through an inverted-index
    // token join (Bayardo et al., WWW 2007). Probes are planted
    // 60%-prefix truncations of docs 0–9 (the d08 incremental framing:
    // probe tf × CORPUS idf, nothing retrained per delta); each must
    // surface its source above the 0.7 bar, plus whatever natural
    // lexical neighbors the shared-vocabulary corpus yields. The oracle
    // recomputes tf, df, N, every weight, both norm tables, and every
    // dot product; the bar compares the f32-squeezed cosine on both
    // engines (the t10 discipline).
    NamedQuery(
      "d15_tfidf_cosine",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toksC = TextOps.tokens(col("text"))
        val probes = docs
          .filter(col("doc_id") < 10)
          .select(
            (-(col("doc_id") + 1L)).as("probe_id"),
            concat_ws(" ",
              slice(toksC, lit(1), greatest(floor(size(toksC) * 3 / 5).cast("int"), lit(1))))
              .as("text"))
        graft.text.SparseSim
          .cosineAgainst(docs, probes, minCosine = 0.7)
          .select(
            col("probe_id"), col("doc_id"), col("n_shared"),
            f32round(col("cosine"), 6).as("cosine"))
          .orderBy("probe_id", "doc_id")
      },
      Some(
        s"WITH tok AS (SELECT doc_id, $duckToks AS w FROM documents), " +
          "tf AS (SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS tf FROM " +
          "(SELECT doc_id, unnest(w) AS tk FROM tok) GROUP BY 1, 2), " +
          "df AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tk), " +
          "nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf), " +
          "cw AS (SELECT doc_id, tf.tk, tf * ln((n + 1.0) / (df + 1.0)) AS w " +
          "FROM tf JOIN df ON tf.tk = df.tk CROSS JOIN nn), " +
          "cnorm AS (SELECT doc_id, sum(w * w) AS norm2 FROM cw GROUP BY doc_id), " +
          "ptok AS (SELECT -(doc_id + 1) AS probe_id, " +
          "w[1 : greatest(len(w) * 3 // 5, 1)] AS pw FROM tok WHERE doc_id < 10), " +
          "ptf AS (SELECT probe_id, tk, CAST(count(*) AS BIGINT) AS tf FROM " +
          "(SELECT probe_id, unnest(pw) AS tk FROM ptok) GROUP BY 1, 2), " +
          "pw AS (SELECT probe_id, ptf.tk, ptf.tf * ln((n + 1.0) / (df + 1.0)) AS pw " +
          "FROM ptf JOIN df ON ptf.tk = df.tk CROSS JOIN nn), " +
          "pnorm AS (SELECT probe_id, sum(pw * pw) AS pnorm2 FROM pw GROUP BY probe_id), " +
          "dots AS (SELECT probe_id, doc_id, CAST(count(*) AS BIGINT) AS n_shared, " +
          "sum(cw.w * pw.pw) AS dot FROM cw JOIN pw ON cw.tk = pw.tk GROUP BY 1, 2), " +
          "cos AS (SELECT d.probe_id, d.doc_id, d.n_shared, " +
          "d.dot / sqrt(c.norm2 * p.pnorm2) AS cosine FROM dots d " +
          "JOIN cnorm c ON c.doc_id = d.doc_id JOIN pnorm p ON p.probe_id = d.probe_id " +
          "WHERE c.norm2 > 0 AND p.pnorm2 > 0) " +
          "SELECT probe_id, doc_id, n_shared, " +
          "round(CAST(CAST(cosine AS REAL) AS DOUBLE), 6) + 0.0 AS cosine " +
          "FROM cos WHERE CAST(CAST(cosine AS REAL) AS DOUBLE) >= 0.7 " +
          "ORDER BY probe_id, doc_id")),

    // Streaming incremental MV maintenance (StreamingOps.maintainMvStream
    // — q38 AS A STREAM, the q33/s08 batch≡stream technique applied to
    // aggregates): the events fixture arrives as 4 single-file
    // micro-batches, each batch's PARTIAL state folds into the maintained
    // view via IncrementalMv.mergePartials (the literal batch code path),
    // and because partial states are commutative monoids the fold is
    // slicing-invariant — the final view must equal the full batch
    // recompute, certified against q38's OWN oracle.
    NamedQuery(
      "s16_stream_mv_maintain",
      (s, dir) => {
        val ev = t(s, dir, "events").select("ts", "event_type", "value")
        val tmp = java.nio.file.Files.createTempDirectory("s16_events_")
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          ev.repartition(4).write.mode("overwrite").parquet(inDir)
          val src = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
          val (query, state) = graft.streaming.StreamingOps.maintainMvStream(src)
          try query.processAllAvailable()
          finally query.stop()
          val shaped = mvFinalize(IncrementalMv.merge(state.get()))
          (shaped.collect().toSeq, shaped.schema)
        } finally deleteRecursively(tmp)
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(mvOracleSql)),

    // Explicit GROUPING SETS — the third member of the grouped-analysis
    // family beside q10's ROLLUP and q18's CUBE: an arbitrary subset of
    // groupings ((status, priority), (status), ()) computed in ONE pass
    // through Catalyst's Expand (each input row fans out once per
    // grouping — no re-scan per level, the property that matters at
    // 100 TB). Null grouping columns are projected to '<all>' markers so
    // the level is explicit; sums run in DECIMAL(18,2) (exact cents, the
    // q37 discipline) so the multi-level aggregate carries no float
    // wobble.
    NamedQuery(
      "q40_grouping_sets",
      (s, dir) => {
        val view = s"q40_orders_${streamSinkCounter.incrementAndGet()}"
        t(s, dir, "orders").createOrReplaceTempView(view)
        try s.sql(
          s"""SELECT coalesce(o_orderstatus, '<all>') AS status,
             |       coalesce(o_orderpriority, '<all>') AS priority,
             |       count(*) AS n_orders,
             |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS spend
             |FROM $view
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
             |ORDER BY status, priority""".stripMargin)
        finally s.catalog.dropTempView(view)
      },
      Some(
        "SELECT coalesce(o_orderstatus, '<all>') AS status, " +
          "coalesce(o_orderpriority, '<all>') AS priority, " +
          "count(*) AS n_orders, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS spend " +
          "FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()) " +
          "ORDER BY status, priority")),

    // Corpus vocabulary / Zipf health report — the one-page diagnostic a
    // curation run prints before training: vocabulary size, hapax count
    // (freq-1 tokens — OCR junk and typo mass live there), top-token
    // share, and the Zipf slope (OLS of ln freq on ln rank over the
    // top-20 ranks; natural text sits near −1). Term frequencies reduce
    // once (cached); every derived statistic is a re-reduction of that
    // metadata-sized table. Slope numerator/denominator are 20-term
    // sums — f32-squeezed on both sides, the t10 libm discipline.
    NamedQuery(
      "t16_vocab_zipf",
      (s, dir) => {
        val tf = graft.CacheScope.track(
          t(s, dir, "documents")
            .select(explode(TextOps.tokens(col("text"))).as("tok"))
            .groupBy("tok")
            .agg(count(lit(1)).as("freq"))
            .cache())
        val totals = tf.agg(
          count(lit(1)).as("vocab_size"),
          sum("freq").as("total_tokens"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"),
          max("freq").as("max_freq"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("tok"))
        val top = tf
          .orderBy(col("freq").desc, col("tok")).limit(20)
          .withColumn("rank", row_number().over(w))
          .select(log(col("rank").cast("double")).as("x"), log(col("freq").cast("double")).as("y"))
          .agg(
            count(lit(1)).cast("double").as("np"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        totals
          .crossJoin(top)
          .select(
            col("vocab_size"), col("total_tokens"), col("n_hapax"),
            f32round(col("max_freq").cast("double") / col("total_tokens"), 6).as("top_share"),
            f32round(
              (col("np") * col("sxy") - col("sx") * col("sy")) /
                (col("np") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
      },
      Some(
        s"WITH tf AS (SELECT tk, CAST(count(*) AS BIGINT) AS freq FROM " +
          s"(SELECT unnest($duckToks) AS tk FROM documents) GROUP BY tk), " +
          "tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size, CAST(sum(freq) AS BIGINT) AS total_tokens, " +
          "CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, max(freq) AS max_freq FROM tf), " +
          "top AS (SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tk) AS DOUBLE)) AS x, " +
          "ln(CAST(freq AS DOUBLE)) AS y FROM tf ORDER BY freq DESC, tk LIMIT 20), " +
          "sl AS (SELECT CAST(count(*) AS DOUBLE) AS np, sum(x) AS sx, sum(y) AS sy, " +
          "sum(x * y) AS sxy, sum(x * x) AS sxx FROM top) " +
          "SELECT vocab_size, total_tokens, n_hapax, " +
          "round(CAST(CAST(CAST(max_freq AS DOUBLE) / total_tokens AS REAL) AS DOUBLE), 6) + 0.0 AS top_share, " +
          "round(CAST(CAST((np * sxy - sx * sy) / (np * sxx - sx * sx) AS REAL) AS DOUBLE), 4) + 0.0 AS zipf_slope " +
          "FROM tot, sl")),

    // Time-RANGE window frames — the window feature q07's running total
    // (ROWS frame) doesn't cover: a trailing 24-hour average per user,
    // frame membership decided by the ORDER-BY VALUE (microseconds), not
    // row position, so peers at identical timestamps share one frame and
    // the result is arrival-order-independent. One user-key shuffle; the
    // frame scan is per-partition. avg is f32-squeezed (Spark's sliding
    // accumulation and DuckDB's segment tree associate differently).
    NamedQuery(
      "q41_range_frame",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us").rangeBetween(-86400000000L, 0L)
        t(s, dir, "events")
          .select(
            col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("value"))
          .select(
            col("event_id"), col("user_id"), col("us"),
            count(lit(1)).over(w).as("n_24h"),
            f32round(avg("value").over(w), 4).as("avg_24h"))
          .orderBy("event_id")
      },
      Some(
        "SELECT event_id, user_id, epoch_us(ts) AS us, " +
          "CAST(count(*) OVER w AS BIGINT) AS n_24h, " +
          "round(CAST(CAST(avg(value) OVER w AS REAL) AS DOUBLE), 4) + 0.0 AS avg_24h " +
          "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
          "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    // Audio decimation end to end (MultimodalOps.decimatePcmWav — the
    // m07 resize story for sound): synthetic PCM16 WAVs decode through
    // the REAL javax.sound path, decimate 2× by exact integer block mean
    // (floorDiv — no resampling filter), re-encode as genuine half-rate
    // RIFF bytes, and the decimated stream's frame features (m06's
    // operator) come back out. The oracle re-derives every decimated
    // sample from the closed-form source formula and floor division, so
    // hash-green certifies decode → decimate → encode → decode → frame
    // features with all-integer arithmetic throughout.
    NamedQuery(
      "m08_audio_decimate",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(
            col("doc_id").as("asset_id"),
            (lit(200) + pmod(col("doc_id"), lit(57))).cast("int").as("n_samples"),
            lit(8000).cast("int").as("sample_rate"),
            col("doc_id").as("seed"))
        val encoded = MultimodalOps.encodePcmWav(spec)
        val half = MultimodalOps.decimatePcmWav(encoded, "asset_id", "content", factor = 2)
        MultimodalOps
          .audioFrameFeatures(half, "asset_id", "content", frameLen = 32)
          .orderBy("asset_id", "frame_idx")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, CAST(200 + doc_id % 57 AS INTEGER) AS n " +
          "FROM documents WHERE doc_id < 100), " +
          "s AS (SELECT asset_id, unnest(generate_series(0, n // 2 - 1)) AS j FROM spec), " +
          "x AS (SELECT asset_id, j, CAST(floor((" +
          "((asset_id * 31 + (2 * j) * 7919) % 65536 - 32768) + " +
          "((asset_id * 31 + (2 * j + 1) * 7919) % 65536 - 32768)) / 2.0) AS BIGINT) AS v FROM s), " +
          "lx AS (SELECT asset_id, j, v, lag(v) OVER (PARTITION BY asset_id ORDER BY j) AS pv FROM x) " +
          "SELECT asset_id, CAST(j // 32 AS INTEGER) AS frame_idx, CAST(count(*) AS INTEGER) AS n, " +
          "CAST(sum(v * v) AS BIGINT) AS sum_sq, " +
          "CAST(sum(CASE WHEN j % 32 > 0 AND (v < 0) <> (pv < 0) THEN 1 ELSE 0 END) AS INTEGER) " +
          "AS zero_cross FROM lx GROUP BY asset_id, j // 32 ORDER BY asset_id, frame_idx")),

    // Perceptual-hash CODEC INVARIANCE, certified: the same pattern image
    // encoded through two different real codecs (PNG and BMP — both
    // lossless) must decode to identical pixels and therefore identical
    // 64-bit dHashes — the property that makes perceptual dedup work
    // across a corpus whose assets arrive in mixed formats (the m05
    // pipeline assumes it; this query PROVES it per asset, through two
    // genuine encode→decode paths). hash_nonzero pins that the hashes
    // are non-degenerate (the pattern generator is designed to produce
    // informative gradients), so the invariance isn't trivially zero.
    NamedQuery(
      "m10_cross_codec_dhash",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 60)
          .select(col("doc_id").as("asset_id"), col("doc_id").as("seed"), lit(0).as("jitter"))
        val png = MultimodalOps.encodePatternImages(spec, format = "png")
        val bmp = MultimodalOps.encodePatternImages(spec, format = "bmp")
        val hPng = MultimodalOps.dHash64(png, "asset_id", "content")
          .select(col("asset_id"), col("dhash").as("h_png"))
        val hBmp = MultimodalOps.dHash64(bmp, "asset_id", "content")
          .select(col("asset_id"), col("dhash").as("h_bmp"))
        hPng.join(hBmp, "asset_id")
          .select(
            col("asset_id"),
            TextOps.hamming64(col("h_png"), col("h_bmp")).cast("long").as("cross_codec_hamming"),
            when(col("h_png") =!= 0L, 1L).otherwise(0L).as("hash_nonzero"))
          .orderBy("asset_id")
      },
      Some(
        "SELECT doc_id AS asset_id, CAST(0 AS BIGINT) AS cross_codec_hamming, " +
          "CAST(1 AS BIGINT) AS hash_nonzero FROM documents WHERE doc_id < 60 ORDER BY asset_id")),

    // REAL lossy compressed-audio codec: G.711 µ-law through the JDK's
    // javax.sound converter (MultimodalOps.ulawRoundtrip) — PCM16 →
    // 8-bit µ-law (2:1) → PCM16, validated against the ORIGINAL samples.
    // The decode table is codec-internal, so accuracy crosses the oracle
    // as bound flags (the v06 technique): round-trip error ≤ 512 (half
    // the top µ-law segment step — measured exhaustively over all 16-bit
    // inputs) and zero sign flips, over samples generated inside the
    // codec's linear range |s| ≤ 30000. `ulaw_bytes = n_samples` is
    // exact and pins the 2:1 compression really happened; n/sr replay
    // from the spec formula. Hash-green certifies a genuine lossy codec
    // round-trip with quantified loss — the m-family's compressed-audio
    // answer (MP3/AAC codecs aren't in the stock JVM; µ-law is, and the
    // mapPartitions slot is the same one a JNI decoder would fill).
    NamedQuery(
      "m09_ulaw_roundtrip",
      (s, dir) => {
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(
            col("doc_id").as("asset_id"),
            (lit(300) + pmod(col("doc_id"), lit(83))).cast("int").as("n_samples"),
            (lit(8000) + pmod(col("doc_id"), lit(2)) * lit(8000)).cast("int").as("sample_rate"),
            col("doc_id").as("seed"))
        MultimodalOps.ulawRoundtrip(spec)
          .select(
            col("asset_id"), col("n_samples"), col("sample_rate"), col("ulaw_bytes"),
            when(col("max_abs_err") <= 512, 1L).otherwise(0L).as("err_ok"),
            when(col("sign_viol") === 0, 1L).otherwise(0L).as("sign_ok"))
          .orderBy("asset_id")
      },
      Some(
        "SELECT doc_id AS asset_id, CAST(300 + doc_id % 83 AS INTEGER) AS n_samples, " +
          "CAST(8000 + (doc_id % 2) * 8000 AS INTEGER) AS sample_rate, " +
          "CAST(300 + doc_id % 83 AS INTEGER) AS ulaw_bytes, " +
          "CAST(1 AS BIGINT) AS err_ok, CAST(1 AS BIGINT) AS sign_ok " +
          "FROM documents WHERE doc_id < 200 ORDER BY asset_id")),

    // Watermark late-data accounting — the streaming correctness surface
    // the s01-s16 queries rely on, certified directly: real events flow
    // through a watermarked daily aggregation; a second file of PLANTED
    // late rows (stamped 7 days before the corpus minimum, arriving
    // after the watermark advanced past them) must be dropped BEFORE the
    // state operator, must not leak into any emitted window, and must be
    // COUNTED by numRowsDroppedByWatermark — the observability contract
    // an at-least-once pipeline audits at 100 TB/day. The metric counts
    // at STATE-OPERATOR granularity, i.e. after the partial aggregation
    // (500 identical late rows pre-combine to ONE dropped row — measured
    // while building this query), so each planted row carries a unique
    // event_type and the expected count is the late GROUP count.
    // Bound-flags state all three facts; windows and totals replay from
    // the clean batch.
    NamedQuery(
      "s17_late_data_accounting",
      (s, dir) => {
        import s.implicits._
        val evBatch = t(s, dir, "events").select(col("ts"), col("event_type"))
        val nLate = t(s, dir, "events").filter(col("event_id") % 20 === 0).count()
        val tmp = java.nio.file.Files.createTempDirectory("s17_events_")
        val qname = s"s17_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          evBatch.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(evBatch.schema).parquet(inDir)
            .withWatermark("ts", "1 hour")
          val out = stream
            .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"), col("n"))
          val query = out.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try {
            query.processAllAvailable() // batch 0: all real rows; watermark → max − 1 h
            val bounds = evBatch.agg(min(col("ts")), max(col("ts"))).head()
            val (minTs, maxTs) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
            // planted LATE rows: a week before the corpus minimum — far
            // behind the already-advanced watermark under any slicing
            t(s, dir, "events").filter(col("event_id") % 20 === 0)
              .select(
                lit(new java.sql.Timestamp(minTs.getTime - 7L * 24 * 3600 * 1000)).as("ts"),
                concat(lit("__late_"), col("event_id")).as("event_type"))
              .write.mode("append").parquet(inDir)
            query.processAllAvailable()
            def sentinel(days: Long) = Seq(
              (new java.sql.Timestamp(maxTs.getTime + days * 24 * 3600 * 1000), "__sentinel"))
              .toDF("ts", "event_type")
            sentinel(40L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
            sentinel(80L).write.mode("append").parquet(inDir)
            query.processAllAvailable()
          } finally query.stop()
          val dropped = query.recentProgress
            .flatMap(p => Option(p.stateOperators).toSeq.flatten)
            .map(_.numRowsDroppedByWatermark).sum
          val shaped = s.table(qname)
            .filter(col("event_type") =!= "__sentinel")
            .agg(
              count(lit(1)).as("n_windows"),
              sum("n").as("total_events"),
              sum(when(col("event_type").startsWith("__late_"), 1L).otherwise(0L)).as("late_leaked"))
            .select(
              col("n_windows"), col("total_events"), col("late_leaked"),
              when(lit(dropped) === nLate, 1L).otherwise(0L).as("dropped_counted_ok"))
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_windows, CAST(sum(n) AS BIGINT) AS total_events, " +
          "CAST(0 AS BIGINT) AS late_leaked, CAST(1 AS BIGINT) AS dropped_counted_ok FROM " +
          "(SELECT epoch_us(ts) // 86400000000, event_type, count(*) AS n FROM events GROUP BY 1, 2)")),

    // Total-order export (SortedExport.positions): every doc's exact
    // 0-based position under a global (n_chars, doc_id) sort plus a
    // balanced contiguous shard — the "write the corpus out in
    // curriculum order across k files" step. One repartitionByRange +
    // the p08 two-level rank; NO single-task sort or global window
    // anywhere (the thing `row_number() OVER (ORDER BY …)` cannot
    // avoid). The oracle replays the complete permutation with exactly
    // that one-task window — DuckDB can afford it, a cluster cannot —
    // so hash-green proves the distributed rank equals the sequential
    // definition position by position.
    NamedQuery(
      "p12_sorted_export",
      (s, dir) => {
        SortedExport
          .positions(
            t(s, dir, "documents").select("doc_id", "n_chars"),
            col("n_chars"), "doc_id", shards = 8)
          .orderBy("position")
      },
      Some(
        "WITH r AS (SELECT doc_id, n_chars AS sort_key, " +
          "CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS position, " +
          "CAST(count(*) OVER () AS BIGINT) AS total FROM documents) " +
          "SELECT doc_id, sort_key, position, position * 8 // total AS shard " +
          "FROM r ORDER BY position")),

    // IVF × JL composed (RandomProjection.ivfTopK) — the fourth
    // compression composition beside v13 (IVFADC, 16×), v16 (IVF+SQ,
    // 4×), v23 (IVF+binary, 32×): APS probes pick the partitions, the
    // 16-dim projection pays ¼ the floats per scanned row, exact re-rank
    // restores the metric. What THIS query certifies is the composition,
    // not JL's intrinsic quality (the unit-RANDOM fixture is JL's
    // hardest regime — absolute recall ≈ 0.2-0.5 like raw ADC's 0.52,
    // already v24's documented business): the sign matrix is
    // corpus-global, so probe pruning never changes a projected value
    // (full-probe ≡ plain v24, spec-pinned) and the bound-flag pins that
    // pruning costs ≤ 0.05 recall vs the UNPRUNED JL scan at the same
    // candidate budget (measured loss ≤ 0.005 across sfs — APS pruning
    // is nearly free, the v13 finding again).
    NamedQuery(
      "v26_ivf_projection_search",
      (s, dir) => {
        val model = indexFor(s, dir)
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val proj = graft.vector.RandomProjection
          .project(model.vectors, model.dim, 16, "embedding")
          .select("vec_id", "partition_id", "proj")
        val qs = embQueries(s, dir, 20)
        val probes = IvfSearch.chooseProbes(model, qs, IvfSearch.Params(k = 10))
        val cands = graft.vector.RandomProjection
          .ivfTopK(proj, probes.select("query_id", "partition_id"), qs, model.dim, 16, cand = 64)
        val pruned = Pq.rerankExact(cands, emb, qs, k = 10)
        val unpruned = graft.vector.RandomProjection.topK(emb, qs, model.dim, 16, k = 10, cand = 64)
        val exact = graft.CacheScope.track(graft.index.KnnJoin.exact(qs, emb, 10).cache())
        val rp = IvfSearch.recallAtK(pruned, exact, 10, qs).agg(avg("recall").as("r_pruned"))
        val ru = IvfSearch.recallAtK(unpruned, exact, 10, qs).agg(avg("recall").as("r_unpruned"))
        rp.crossJoin(ru)
          .select(
            lit(20L).as("n_queries"),
            when(col("r_unpruned") - col("r_pruned") <= 0.05, 1L).otherwise(0L).as("prune_loss_ok"),
            lit(16L).as("dims_scanned"))
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS prune_loss_ok, " +
          "CAST(16 AS BIGINT) AS dims_scanned")),

    // Inline pipeline observability (Dataset.observe / CollectMetrics):
    // audit metrics — row count, null count, value sum — ride the SAME
    // pass as the real aggregation, no second scan (at 100 TB the
    // difference between "audited" and "audited at double cost"). The
    // query runs a per-type aggregate, reads the observed metrics off
    // the executed plan, and emits consistency flags: the observed
    // totals must equal what the aggregate's own output re-derives
    // (count exactly; the float sum under the f32 squeeze).
    NamedQuery(
      "q42_observed_metrics",
      (s, dir) => {
        val observed = t(s, dir, "events")
          .observe(
            "q42_audit",
            count(lit(1)).as("n_rows"),
            sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
            sum("value").as("sum_value"))
        val agg = observed.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("s"))
        val perType = agg.collect() // one pass: aggregate AND metrics
        val m = agg.queryExecution.observedMetrics("q42_audit")
        val (nRows, nNulls, sumV) = (m.getLong(0), m.getLong(1), m.getDouble(2))
        val totN = perType.map(_.getAs[Long]("n")).sum
        val totS = perType.map(_.getAs[Double]("s")).sum
        import s.implicits._
        // Relative tolerance, not f32 bit equality: the observed-metric sum
        // and the per-type re-sum associate differently (two-phase agg vs
        // collect-order fold), and no bound guarantees the two roundings
        // land on the same f32 — a fixture total near an f32 boundary
        // would flip an exact-equality flag on association order alone.
        Seq((nRows, nNulls,
          if (nRows == totN) 1L else 0L,
          if (math.abs(sumV - totS) <= 1e-6 * math.max(math.abs(totS), 1.0)) 1L else 0L))
          .toDF("n_rows", "n_null_value", "count_consistent", "sum_consistent")
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_null_value, " +
          "CAST(1 AS BIGINT) AS count_consistent, CAST(1 AS BIGINT) AS sum_consistent FROM events")),

    // Two-sample Kolmogorov–Smirnov drift statistic per event type — the
    // train/serve-skew detector a pipeline runs between yesterday's and
    // today's feed: D = max_v |F_A(v) − F_B(v)| over the two empirical
    // CDFs. Computed EXACTLY in integers until the final display
    // division: the max is taken over |c_A·n_B − c_B·n_A| (cumulative
    // counts cross-multiplied), so no float CDF ever decides the
    // answer. One (type, value) aggregation + one per-type cumulative
    // window over DISTINCT values (value-count-sized, not row-sized —
    // the 100 TB shape); raw fixture doubles sort identically in any
    // engine because no arithmetic touches them.
    NamedQuery(
      "q43_ks_drift",
      (s, dir) => {
        val ev = t(s, dir, "events").select(
          col("event_type"), col("value"),
          when(col("event_id") % 4 =!= 0, 1L).otherwise(0L).as("in_a"))
        val counts = ev
          .groupBy("event_type", "value")
          .agg(sum("in_a").as("ca"), sum(lit(1L) - col("in_a")).as("cb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("value")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val cum = counts.select(
          col("event_type"),
          sum("ca").over(w).as("cum_a"),
          sum("cb").over(w).as("cum_b"))
        val totals = ev.groupBy("event_type")
          .agg(sum("in_a").as("na"), sum(lit(1L) - col("in_a")).as("nb"))
        cum
          .join(totals, "event_type")
          .groupBy("event_type")
          .agg(
            first("na").as("n_a"), first("nb").as("n_b"),
            max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na"))).as("dnum"))
          .select(
            col("event_type"), col("n_a"), col("n_b"),
            f32round(col("dnum").cast("double") / (col("n_a") * col("n_b")).cast("double"), 6).as("ks"))
          .orderBy("event_type")
      },
      Some(
        "WITH ev AS (SELECT event_type, value, CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS in_a FROM events), " +
          "c AS (SELECT event_type, value, CAST(sum(in_a) AS BIGINT) AS ca, " +
          "CAST(sum(1 - in_a) AS BIGINT) AS cb FROM ev GROUP BY 1, 2), " +
          "cum AS (SELECT event_type, sum(ca) OVER (PARTITION BY event_type ORDER BY value " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a, " +
          "sum(cb) OVER (PARTITION BY event_type ORDER BY value " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b FROM c), " +
          "tot AS (SELECT event_type, CAST(sum(in_a) AS BIGINT) AS n_a, " +
          "CAST(sum(1 - in_a) AS BIGINT) AS n_b FROM ev GROUP BY 1) " +
          "SELECT c.event_type, t.n_a, t.n_b, " +
          "round(CAST(CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) / " +
          "(CAST(t.n_a AS DOUBLE) * t.n_b) AS REAL) AS DOUBLE), 6) + 0.0 AS ks " +
          "FROM cum c JOIN tot t ON t.event_type = c.event_type " +
          "GROUP BY c.event_type, t.n_a, t.n_b ORDER BY c.event_type")),

    // Max-inner-product top-k (MIPS) — the third metric beside L2 (v01)
    // and cosine (v04): the retrieval scoring for unnormalized learned
    // embeddings where magnitude IS signal. Same bounded-heap scan shape
    // as every backend (query batch broadcast over one corpus pass); the
    // dot product folds dimensions in ascending order on both engines,
    // so the oracle replays every score bitwise and the ranking needs no
    // recall bar.
    NamedQuery(
      "v27_mips_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val qs = embQueries(s, dir, 5)
        graft.vector.TopK.perQuery(
          emb.crossJoin(broadcast(qs))
            .select(
              col("query_id"),
              (-graft.vector.VectorOps.dot(col("qvec"), col("embedding"))).as("dist2"),
              col("vec_id")),
          10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rnk"),
            col("vec_id"),
            f32round(-col("dist2"), 6).as("dot"))
          .orderBy("query_id", "rnk")
      },
      Some(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
          s"d AS (SELECT q.query_id, e.vec_id, ${duckDot("q.qvec", "e.embedding")} AS dp " +
          "FROM embeddings e CROSS JOIN q), " +
          "r AS (SELECT query_id, vec_id, dp, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY dp DESC, vec_id ASC) AS INTEGER) AS rnk FROM d) " +
          "SELECT query_id, rnk, vec_id, round(CAST(CAST(dp AS REAL) AS DOUBLE), 6) + 0.0 AS dot " +
          "FROM r WHERE rnk <= 10 ORDER BY query_id, rnk")),

    // Stream-static TEMPORAL dimension lookup — the warehouse enrich
    // pattern p07 (SCD-2) and q26 (as-of) exist to serve, composed as a
    // stream: each arriving fact joins the dimension VERSION valid at
    // its own event time (`valid_from ≤ ts < valid_to`, half-open
    // windows ⇒ exactly one version per fact even at change-point
    // timestamp ties). The SCD-2 dimension is built once as a static
    // frame and broadcast into every micro-batch (stream-static inner
    // joins need no watermark — no cross-batch state at all, the
    // cheapest streaming join class); facts stream from a file source.
    // The batch oracle replays dimension build AND temporal join, so
    // hash-green proves the streamed enrichment ≡ the warehouse batch
    // backfill.
    NamedQuery(
      "s18_stream_scd_lookup",
      (s, dir) => {
        val facts = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
        val dim = Scd
          .scd2(t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
          .select(
            col("o_custkey").as("d_custkey"), col("version"),
            col("o_orderpriority").as("priority"),
            col("valid_from"), col("valid_to"))
        val tmp = java.nio.file.Files.createTempDirectory("s18_orders_")
        val qname = s"s18_sink_${streamSinkCounter.incrementAndGet()}"
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          val inDir = s"$tmp/in"
          facts.write.mode("overwrite").parquet(inDir)
          val stream = s.readStream.schema(facts.schema).parquet(inDir)
          val joined = stream
            .join(
              broadcast(dim),
              col("o_custkey") === col("d_custkey") &&
                col("o_orderdate") >= col("valid_from") &&
                (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
            .select("o_orderkey", "o_custkey", "version", "priority")
          val query = joined.writeStream.format("memory").queryName(qname).outputMode("append").start()
          try query.processAllAvailable()
          finally query.stop()
          val shaped = s.table(qname).orderBy("o_orderkey")
          (shaped.collect().toSeq, shaped.schema)
        } finally {
          try s.catalog.dropTempView(qname)
          catch { case _: Exception => () }
          deleteRecursively(tmp)
        }
        }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "WITH m AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority, " +
          "lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
          "FROM orders), " +
          "c AS (SELECT * FROM m WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority), " +
          "v AS (SELECT o_custkey AS d_custkey, CAST(row_number() OVER w AS INTEGER) AS version, " +
          "o_orderpriority AS priority, o_orderdate AS valid_from, lead(o_orderdate) OVER w AS valid_to " +
          "FROM c WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) " +
          "SELECT o.o_orderkey, o.o_custkey, v.version, v.priority FROM orders o JOIN v " +
          "ON v.d_custkey = o.o_custkey AND o.o_orderdate >= v.valid_from " +
          "AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to) ORDER BY o.o_orderkey")),

    // Index health introspection — the bookkeeping invariants an
    // operations team alerts on, certified in the driver record: the
    // index's partition METADATA must agree with its DATA (per-partition
    // metadata sizes ≡ distributed recount of the vectors table), every
    // corpus vector must be assigned to exactly one partition (no loss,
    // no duplication — the multiset-preservation property every
    // insert/delete/maintain cycle must keep), and live metadata must
    // contain no phantom partitions. Partition count/sizes themselves
    // are k-means state (not SQL-portable) — the flags are the contract.
    NamedQuery(
      "v28_index_stats",
      (s, dir) => {
        val model = indexFor(s, dir)
        val emb = t(s, dir, "embeddings").select("vec_id")
        val metaSizes = model.partitions.map(p => p.pid -> p.size).toMap
        val actual = model.vectors
          .groupBy("partition_id").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val metaConsistent = metaSizes.filter(_._2 > 0) == actual
        val assigned = model.vectors.select("vec_id")
        val nCorpus = emb.count()
        val nAssigned = assigned.count()
        val nMatched = assigned.join(emb, "vec_id").count()
        import s.implicits._
        Seq((
          nCorpus,
          if (metaConsistent) 1L else 0L,
          if (nAssigned == nCorpus && nMatched == nCorpus) 1L else 0L))
          .toDF("n_vectors", "meta_consistent", "assignment_complete")
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_vectors, CAST(1 AS BIGINT) AS meta_consistent, " +
          "CAST(1 AS BIGINT) AS assignment_complete FROM embeddings")),

    // Availability-capped temperature mixture by EXACT water-filling
    // (Sampling.cappedMixture): p02's temperature targets made FEASIBLE —
    // a source can't contribute more tokens than it has, so the water
    // level λ rises until Σ min(avail_i, √avail_i·λ) meets the budget.
    // λ has a closed form over the breakpoint-sorted sources (no
    // iteration, no driver loop), and every step is portable: sqrt is
    // IEEE-correctly-rounded in any engine, the cumulative sums run in
    // one fixed sorted order, and the final allocations are f32-squeezed.
    // The oracle re-derives availability, weights, breakpoints, the
    // selected λ interval, and every allocation — hash-green certifies
    // the whole feasibility computation, capped flags included.
    NamedQuery(
      "p13_capped_mixture",
      (s, dir) => {
        val toksC = TextOps.tokens(col("text"))
        // the fixture's sources are near-uniform, where no cap ever binds
        // — scale availability by the source index (src0 × 1 … src19 × 20)
        // so the smallest sources genuinely hit their caps and BOTH
        // water-filling branches are exercised under the oracle
        // digit-anchored extraction, not a positional substring: scaled
        // corpora decorate source keys ("src18_z7x") and a blind
        // substring-cast throws under ANSI there — the index is the
        // digit run after the "src" prefix on ANY corpus
        val avail = t(s, dir, "documents")
          .groupBy(col("source"))
          .agg((sum(size(toksC)) *
            (lit(1L) + regexp_extract(col("source"), "^src([0-9]+)", 1).cast("long")))
            .cast("long").as("avail"))
        val total = avail.agg(sum("avail")).head().getLong(0)
        Sampling
          .cappedMixture(avail, budget = 0.4 * total, temperature = 0.5)
          .orderBy("source")
      },
      Some(
        s"WITH av AS (SELECT source, CAST(sum(len($duckToks)) * (1 + CAST(regexp_extract(source, '^src([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS avail " +
          "FROM documents GROUP BY source), " +
          "b AS (SELECT source, avail, sqrt(CAST(avail AS DOUBLE)) AS w, " +
          "CAST(avail AS DOUBLE) / sqrt(CAST(avail AS DOUBLE)) AS r FROM av), " +
          "c AS (SELECT *, sum(CAST(avail AS DOUBLE)) OVER wo AS cum_c, sum(w) OVER wo AS cum_w, " +
          "sum(w) OVER () AS tw, sum(CAST(avail AS DOUBLE)) OVER () AS ta, " +
          "lead(r) OVER (ORDER BY r, source) AS r_next FROM b " +
          "WINDOW wo AS (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
          "f AS (SELECT *, CASE WHEN tw > cum_w AND (0.4 * ta - cum_c) / (tw - cum_w) >= r " +
          "AND (r_next IS NULL OR (0.4 * ta - cum_c) / (tw - cum_w) < r_next) " +
          "THEN (0.4 * ta - cum_c) / (tw - cum_w) END AS lam_valid FROM c), " +
          "l AS (SELECT coalesce(max(lam_valid), 0.4 * max(ta) / max(tw)) AS lambda FROM f) " +
          "SELECT b.source, b.avail, " +
          "round(CAST(CAST(least(CAST(b.avail AS DOUBLE), b.w * l.lambda) AS REAL) AS DOUBLE), 6) + 0.0 AS t_target, " +
          "CAST(b.avail AS DOUBLE) <= b.w * l.lambda AS capped " +
          "FROM b CROSS JOIN l ORDER BY source")),

    // EXACT stratified train/val/test split by the largest-remainder
    // method (Sampling.exactStratifiedSplit): within every source the
    // split sizes are floor(n·pct/100) plus largest-remainder extras —
    // quotas that sum to n EXACTLY, where p05's hash-bucket split is only
    // proportional in expectation. Quota planning is all 64-bit integer
    // div/mod on per-stratum counts (metadata-sized, broadcast); the data
    // pays one stratum-key ranking shuffle; membership is the portable
    // Knuth-hash rank, so DuckDB replays the entire allocation — which
    // rows land where, not just how many — bit-for-bit.
    NamedQuery(
      "p14_exact_stratified_split",
      (s, dir) => {
        Sampling
          .exactStratifiedSplit(
            t(s, dir, "documents").select("doc_id", "source"),
            "source", "doc_id",
            Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .orderBy("source", "split")
      },
      Some(
        "WITH c AS (SELECT source, count(*) AS n_g FROM documents GROUP BY source), " +
          "sp AS (SELECT * FROM (VALUES ('train', 80, 0), ('val', 10, 1), ('test', 10, 2)) AS t(split, pct, idx)), " +
          "a AS (SELECT source, split, idx, n_g, (n_g * pct) // 100 AS fl, (n_g * pct) % 100 AS rem " +
          "FROM c CROSS JOIN sp), " +
          "b AS (SELECT *, n_g - sum(fl) OVER (PARTITION BY source) AS extras, " +
          "row_number() OVER (PARTITION BY source ORDER BY rem DESC, idx) AS rrank FROM a), " +
          "q AS (SELECT source, split, idx, fl + CASE WHEN rrank <= extras THEN 1 ELSE 0 END AS quota FROM b), " +
          "bd AS (SELECT source, split, sum(quota) OVER (PARTITION BY source ORDER BY idx) AS hi, " +
          "sum(quota) OVER (PARTITION BY source ORDER BY idx) - quota AS lo FROM q), " +
          "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
          "ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk FROM documents) " +
          "SELECT r.source, bd.split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids " +
          "FROM r JOIN bd ON r.source = bd.source AND r.rk > bd.lo AND r.rk <= bd.hi " +
          "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Proportional stride interleave — the epoch DATA-ORDER primitive a
    // mixture-trained run needs beyond p02/p13's "how many per source"
    // and p08's "uniform shuffle": source g's i-th document (in
    // deterministic hash order) sits at stride position (2i+1)/(2·n_g),
    // so every prefix of the global order carries every source in
    // proportion — no source ever front-loads or starves. The key is
    // EXACT integer arithmetic ((2i+1)·2⁴⁰ div 2n_g — no float ladder),
    // and the published bounded prefix plans as TakeOrderedAndProject
    // (distributed partial top-k; the full-permutation variant is p12's
    // two-level-rank machinery). Oracle replays key, order, and every
    // position bit-for-bit.
    NamedQuery(
      "p15_stride_interleave",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "source")
        val wSrc = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), col("doc_id"))
        val cnt = d.groupBy("source").agg(count(lit(1)).as("n_g"))
        // exact-arithmetic bound, guarded loudly (the RandomProjection
        // discipline): (2i+1)·2⁴⁰ must stay inside Long — beyond ~4.19M
        // rows per stratum Spark would wrap negative while DuckDB's //
        // errors, so a bigger corpus swaps in a smaller multiplier and
        // re-pins its oracle rather than inheriting silent divergence
        val maxN = cnt.agg(max("n_g")).head().getLong(0)
        require(maxN <= (Long.MaxValue / (1L << 40) - 1) / 2,
          s"stratum size $maxN exceeds the exact-Long bound for the 2^40 stride key")
        val keyed = d
          .withColumn("i", row_number().over(wSrc).cast("long") - 1L)
          .join(broadcast(cnt), "source")
          .withColumn("k", expr("((2 * i + 1) * 1099511627776) div (2 * n_g)"))
        val top = keyed.orderBy(col("k"), col("source"), col("doc_id")).limit(200)
        top
          .withColumn(
            "position",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("k"), col("source"), col("doc_id"))).cast("long"))
          .select("position", "source", "doc_id", "k")
          .orderBy("position")
      },
      Some(
        "WITH c AS (SELECT source, count(*) AS n_g FROM documents GROUP BY source), " +
          "r AS (SELECT d.doc_id, d.source, " +
          "row_number() OVER (PARTITION BY d.source " +
          "ORDER BY (d.doc_id * 2654435761) % 4294967296, d.doc_id) - 1 AS i, c.n_g " +
          "FROM documents d JOIN c USING (source)), " +
          "k AS (SELECT doc_id, source, ((2 * i + 1) * 1099511627776) // (2 * n_g) AS k FROM r), " +
          "t AS (SELECT * FROM k ORDER BY k, source, doc_id LIMIT 200) " +
          "SELECT CAST(row_number() OVER (ORDER BY k, source, doc_id) AS BIGINT) AS position, " +
          "source, doc_id, CAST(k AS BIGINT) AS k FROM t ORDER BY position")),

    // MinHash estimator-accuracy audit — the STATISTICAL contract behind
    // d02/d08/s10, certified directly: for every planted near-dup pair
    // the signature-agreement estimate must sit within 0.15 of the TRUE
    // 3-shingle Jaccard (128 components ⇒ σ ≈ 0.03 at J ≈ 0.9: a 5σ
    // bar, and the seeded hashes make the outcome deterministic — green
    // once is green forever). The exact Jaccard is portable int/int
    // arithmetic the oracle recomputes; the estimate is seeded xxhash
    // state, so it crosses as a bound flag (the v06 technique).
    NamedQuery(
      "d16_minhash_estimator_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val toksC = TextOps.tokens(col("text"))
        val originals = docs.filter(size(toksC) >= 20)
        val mutated = originals
          .select(
            (col("doc_id") + 100000L).as("doc_id"),
            concat_ws(" ", slice(toksC, 3, 1000000)).as("text"))
        // Only the planted pairs are audited, so only THEIR docs get
        // signatures and materialized shingle sets: at corpus scale the
        // audit is a sample certification, and aggregating per-doc
        // `collect_set` arrays for millions of unaudited docs to certify a
        // few hundred would be the plan's one scale smell (round-11
        // verdict). MinHash signatures and shingle sets are row-local
        // given the seeds — pruning the input cannot change any audited
        // row.
        val audited = originals.unionByName(mutated)
        val sigs = Dedup.minhashSignatures(audited, shingleN = 3, numHashes = 128)
        // exact Jaccard WITHOUT materialized shingle arrays (the round-11
        // record's variance came from corpus-wide collect_set memory
        // pressure): shingle each SIDE separately (no id-magnitude test —
        // must hold for arbitrary doc_ids, e.g. the scale probe's
        // replica-shifted corpora), per-doc distinct counts, and a keyed
        // (source doc, shingle) equi-join for the intersections — the
        // join never widens past the planted pairs
        val shA = graft.CacheScope.track(
          TextOps.shingleRows(originals, 3, distinctSet = true)
            .select(col("doc_id").as("doc_a"), col("s")).cache())
        val shB = graft.CacheScope.track(
          TextOps.shingleRows(mutated, 3, distinctSet = true)
            .select(col("doc_id").as("doc_b"), (col("doc_id") - 100000L).as("doc_a"), col("s"))
            .cache())
        val cntA = shA.groupBy("doc_a").agg(count(lit(1)).as("na"))
        val cntB = shB.groupBy("doc_b").agg(count(lit(1)).as("nb"))
        val inter = shB.join(shA, Seq("doc_a", "s"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
        val pairs = originals
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 100000L).as("doc_b"))
        pairs
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .join(cntA, "doc_a")
          .join(cntB, "doc_b")
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .select(
            col("doc_a"), col("doc_b"),
            (col("n_inter").cast("double") /
              (col("na") + col("nb") - col("n_inter")).cast("double")).as("jaccard"),
            (aggregate(
              zip_with(col("sig_a"), col("sig_b"), (a, b) => when(a === b, 1).otherwise(0)),
              lit(0),
              (acc, x) => acc + x).cast("double") / 128.0).as("est"))
          .select(
            col("doc_a"), col("doc_b"),
            f32round(col("jaccard"), 6).as("jaccard"),
            when(abs(col("est") - col("jaccard")) <= 0.15, 1L).otherwise(0L).as("est_ok"))
          .orderBy("doc_a")
      },
      Some(
        "WITH tok AS (SELECT doc_id, w, list_distinct(list_transform(" +
          "generate_series(1, greatest(len(w) - 2, 0)), " +
          "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents)), " +
          "pairs AS (SELECT doc_id AS doc_a, sh AS sh_a, " +
          "list_distinct(list_transform(generate_series(1, greatest(len(w) - 4, 0)), " +
          "i -> w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh_b " +
          "FROM tok WHERE len(w) >= 20) " +
          "SELECT doc_a, doc_a + 100000 AS doc_b, " +
          "round(CAST(CAST(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(sh_a, sh_b))) AS REAL) AS DOUBLE), 6) + 0.0 AS jaccard, " +
          "CAST(1 AS BIGINT) AS est_ok FROM pairs ORDER BY doc_a")),

    // Curation funnel accounting — the per-source billing table a data
    // team reads after every run: docs/tokens RAW → after exact dedup
    // (sha-256 min-id keeper) → after the quality gate (t03's score at
    // the 0.35 bar on the f32-squeezed value). All-integer counts over
    // already-certified machinery, and the oracle replays the WHOLE
    // funnel — content hash, keeper choice, quality formula, bar — so
    // hash-green certifies the accounting end to end.
    NamedQuery(
      "t17_curation_accounting",
      (s, dir) => {
        val toksC = TextOps.tokens(col("text"))
        val f32q = TextOps.qualityScore(col("text")).cast("float").cast("double")
        val enriched = t(s, dir, "documents")
          .select(
            col("source"), col("doc_id"),
            size(toksC).cast("long").as("n_tok"),
            sha2(col("text"), 256).as("h"),
            f32q.as("q"))
        val keeper = org.apache.spark.sql.expressions.Window.partitionBy("h")
        enriched
          .withColumn("keep_dedup", col("doc_id") === min("doc_id").over(keeper))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"),
            sum(when(col("keep_dedup"), 1L).otherwise(0L)).as("n_after_dedup"),
            sum(when(col("keep_dedup"), col("n_tok")).otherwise(0L)).as("tok_after_dedup"),
            sum(when(col("keep_dedup") && col("q") >= 0.35, 1L).otherwise(0L)).as("n_after_quality"),
            sum(when(col("keep_dedup") && col("q") >= 0.35, col("n_tok")).otherwise(0L)).as("tok_after_quality"))
          .orderBy("source")
      },
      Some {
        val stopList = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        "WITH base AS (SELECT source, doc_id, len(w) AS n_tok, sha256(text) AS h, " +
          "CAST(greatest(0.0, least(1.0, " +
          "0.3 * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) " +
          "+ 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / greatest(1, len(w))) " +
          "+ 0.2 * least(stop_ratio * 5.0, 1.0) " +
          "- 0.4 * (punct_ratio + digit_ratio) + 0.2)) AS REAL) AS q " +
          "FROM (SELECT source, doc_id, text, w, " +
          raw"CAST(len(regexp_extract_all(text, '[.,;:!?''\"()\[\]{}-]')) AS DOUBLE) / greatest(1, len(text)) AS punct_ratio, " +
          "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(1, len(text)) AS digit_ratio, " +
          s"CAST(len(list_filter(w, x -> list_contains($stopList, x))) AS DOUBLE) / greatest(1, len(w)) AS stop_ratio " +
          s"FROM (SELECT source, doc_id, text, $duckToks AS w FROM documents))), " +
          "k AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY h) AS keep_dedup FROM base) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
          "CAST(sum(CASE WHEN keep_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup, " +
          "CAST(sum(CASE WHEN keep_dedup THEN n_tok ELSE 0 END) AS BIGINT) AS tok_after_dedup, " +
          "CAST(sum(CASE WHEN keep_dedup AND q >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality, " +
          "CAST(sum(CASE WHEN keep_dedup AND q >= 0.35 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_after_quality " +
          "FROM k GROUP BY source ORDER BY source"
      }),

    // Vocabulary-growth (Heaps-law) curve — the corpus-analysis table a
    // scaling study reads before committing tokenizer budget: vocabulary
    // size V(n) as the corpus grows doc by doc, measured at ten equal
    // checkpoints. Computed with the FIRST-OCCURRENCE trick: one
    // row-parallel distinct-token explode, one min(doc_id) aggregate per
    // token (map-side combinable — the only shuffle that touches data),
    // then each token's first occurrence lands in a checkpoint bucket and
    // a 10-row cumulative sum finishes on metadata. No per-checkpoint
    // rescan: a naive ten-pass count(distinct) does 10 corpus scans, this
    // does one at any corpus size. All-integer output — the oracle
    // replays every count exactly.
    NamedQuery(
      "t18_vocab_growth",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val n = docs.count()
        val firstSeen = docs
          .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("first_doc"))
        // checkpoint c covers doc_id < (n·c) div 10; the smallest such c
        // for first occurrence d is ceil(10(d+1)/n) — exact inverse of the
        // integer-division boundary (d < floor(nc/10) ⟺ nc ≥ 10(d+1))
        val newPerCp = firstSeen
          .select(expr(s"(10 * (first_doc + 1) + $n - 1) div $n").cast("int").as("checkpoint"))
          .groupBy("checkpoint").agg(count(lit(1)).as("new_tokens"))
        val cps = s.range(1, 11).select(col("id").cast("int").as("checkpoint"))
        cps
          .join(newPerCp, Seq("checkpoint"), "left")
          .na.fill(0L, Seq("new_tokens"))
          .withColumn(
            "vocab",
            sum("new_tokens").over(org.apache.spark.sql.expressions.Window.orderBy("checkpoint")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .select(
            col("checkpoint"),
            expr(s"($n * checkpoint) div 10").as("n_docs"),
            col("vocab"), col("new_tokens"))
          .orderBy("checkpoint")
      },
      Some(
        s"WITH fs AS (SELECT tok, min(doc_id) AS first_doc FROM (SELECT doc_id, unnest(list_distinct($duckToks)) AS tok " +
          "FROM documents) GROUP BY tok), " +
          "n AS (SELECT count(*) AS n FROM documents), " +
          "np AS (SELECT CAST((10 * (first_doc + 1) + n.n - 1) // n.n AS INTEGER) AS checkpoint, " +
          "CAST(count(*) AS BIGINT) AS new_tokens FROM fs, n GROUP BY 1), " +
          "cp AS (SELECT unnest(generate_series(1, 10)) AS checkpoint) " +
          "SELECT cp.checkpoint, CAST((n.n * cp.checkpoint) // 10 AS BIGINT) AS n_docs, " +
          "CAST(sum(coalesce(np.new_tokens, 0)) OVER (ORDER BY cp.checkpoint) AS BIGINT) AS vocab, " +
          "CAST(coalesce(np.new_tokens, 0) AS BIGINT) AS new_tokens " +
          "FROM cp CROSS JOIN n LEFT JOIN np ON np.checkpoint = cp.checkpoint " +
          "ORDER BY cp.checkpoint")),

    // Late-interaction MaxSim retrieval (the ColBERT scoring shape,
    // Khattab & Zaharia, SIGIR 2020): a "document" is a BAG of vectors
    // (here: each label's embeddings — the multi-vector column layout a
    // passage encoder produces), a query is a bag of query vectors, and
    // score(doc) = Σ_q max_d cos(q, d) — every query vector finds its
    // best match inside the doc independently. Dataflow: one
    // (query-vec × doc-vec) cosine join grouped twice — max per
    // (query_vec, doc), sum per (query, doc) — both combinable
    // aggregations; the query bag broadcasts, the corpus is scanned
    // once. Every cosine is the fixed-order fold the oracle replays, the
    // max is exact, and the final sum runs over ≤|query bag| terms — so
    // the whole late-interaction ranking is DuckDB-replayed, f32-squeeze
    // only at display.
    NamedQuery(
      "v29_maxsim_retrieval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding", "label")
        // query bag: the first 4 vectors; doc bags: per-label vector sets
        val qbag = emb.filter(col("vec_id") < 4)
          .select(col("vec_id").as("q_vec"), col("embedding").as("qv"))
        val scored = emb
          .crossJoin(broadcast(qbag))
          .select(
            col("label"), col("q_vec"),
            graft.vector.VectorOps.cosine(col("qv"), col("embedding")).as("c"))
          .groupBy("label", "q_vec")
          .agg(max("c").as("best"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_qvecs"), sum("best").as("maxsim"))
        scored
          .select(
            col("label"), col("n_qvecs"),
            f32round(col("maxsim"), 6).as("maxsim"))
          .orderBy(col("maxsim").desc, col("label"))
      },
      Some(
        "WITH q AS (SELECT vec_id AS q_vec, embedding AS qv FROM embeddings WHERE vec_id < 4), " +
          s"c AS (SELECT e.label, q.q_vec, ${duckDot("q.qv", "e.embedding")} / " +
          s"(${duckNorm("q.qv")} * ${duckNorm("e.embedding")}) AS c FROM embeddings e CROSS JOIN q), " +
          "b AS (SELECT label, q_vec, max(c) AS best FROM c GROUP BY 1, 2), " +
          "m AS (SELECT label, CAST(count(*) AS BIGINT) AS n_qvecs, sum(best) AS maxsim FROM b GROUP BY label) " +
          "SELECT label, n_qvecs, round(CAST(CAST(maxsim AS REAL) AS DOUBLE), 6) + 0.0 AS maxsim " +
          "FROM m ORDER BY round(CAST(CAST(maxsim AS REAL) AS DOUBLE), 6) + 0.0 DESC, label")),

    // Ordered funnel conversion — the product-analytics staple: per
    // (user, day), did a view happen, a click strictly AFTER the first
    // view, a purchase strictly after that first qualifying click?
    // The ORDER constraint is what plain per-type counts can't express;
    // here it's two rounds of "min event time after the previous step's
    // anchor" — each a join on the (day, user) key plus a conditional
    // min, no windows at all. All-integer microsecond anchors; the only
    // floats are the final f32-squeezed conversion rates.
    NamedQuery(
      "q44_funnel_conversion",
      (s, dir) => {
        val base = t(s, dir, "events").select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val g1 = base.groupBy("day", "user_id")
          .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"))
        val g2 = base.join(g1, Seq("day", "user_id"))
          .groupBy("day", "user_id")
          .agg(
            first("v_us").as("v_us"),
            min(when(col("event_type") === "click" && col("us") > col("v_us"), col("us"))).as("c_us"))
        val g3 = base.join(g2, Seq("day", "user_id"))
          .groupBy("day", "user_id")
          .agg(
            first("v_us").as("v_us"), first("c_us").as("c_us"),
            min(when(col("event_type") === "purchase" && col("us") > col("c_us"), col("us"))).as("p_us"))
        g3.groupBy("day")
          .agg(
            sum(when(col("v_us").isNotNull, 1L).otherwise(0L)).as("n_view"),
            sum(when(col("c_us").isNotNull, 1L).otherwise(0L)).as("n_click_after_view"),
            sum(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("n_purchase_after_click"))
          .select(
            col("day"), col("n_view"), col("n_click_after_view"), col("n_purchase_after_click"),
            f32round(col("n_click_after_view").cast("double") / greatest(col("n_view"), lit(1L)), 6)
              .as("view_to_click"),
            f32round(col("n_purchase_after_click").cast("double") / greatest(col("n_click_after_view"), lit(1L)), 6)
              .as("click_to_purchase"))
          .orderBy("day")
      },
      Some(
        "WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, event_type, epoch_us(ts) AS us FROM events), " +
          "g1 AS (SELECT day, user_id, min(CASE WHEN event_type = 'view' THEN us END) AS v_us " +
          "FROM base GROUP BY 1, 2), " +
          "g2 AS (SELECT b.day, b.user_id, any_value(g1.v_us) AS v_us, " +
          "min(CASE WHEN b.event_type = 'click' AND b.us > g1.v_us THEN b.us END) AS c_us " +
          "FROM base b JOIN g1 ON g1.day = b.day AND g1.user_id = b.user_id GROUP BY 1, 2), " +
          "g3 AS (SELECT b.day, b.user_id, any_value(g2.v_us) AS v_us, any_value(g2.c_us) AS c_us, " +
          "min(CASE WHEN b.event_type = 'purchase' AND b.us > g2.c_us THEN b.us END) AS p_us " +
          "FROM base b JOIN g2 ON g2.day = b.day AND g2.user_id = b.user_id GROUP BY 1, 2) " +
          "SELECT day, CAST(sum(CASE WHEN v_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view, " +
          "CAST(sum(CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view, " +
          "CAST(sum(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click, " +
          "round(CAST(CAST(CAST(sum(CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "greatest(sum(CASE WHEN v_us IS NOT NULL THEN 1 ELSE 0 END), 1) AS REAL) AS DOUBLE), 6) + 0.0 AS view_to_click, " +
          "round(CAST(CAST(CAST(sum(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "greatest(sum(CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END), 1) AS REAL) AS DOUBLE), 6) + 0.0 AS click_to_purchase " +
          "FROM g3 GROUP BY day ORDER BY day")),

    // NULL anti-join semantics, certified: `NOT IN (subquery)` is
    // three-valued — ONE null in the list makes every row's predicate
    // UNKNOWN and the result EMPTY, while `NOT EXISTS` (and the clean
    // list) return the real complement. The classic silent-data-loss trap
    // in curation SQL ("exclude ids on the denylist" drops the whole
    // corpus when the denylist has a null), pinned here as engine
    // behavior: Spark plans the NOT IN as a null-aware anti join, and
    // the oracle runs the IDENTICAL SQL so hash-green proves both
    // engines agree on all three counts and the trap flag.
    NamedQuery(
      "q45_null_anti_join",
      (s, dir) => {
        val ov = s"q45_orders_${streamSinkCounter.incrementAndGet()}"
        val cv = s"q45_customer_${streamSinkCounter.incrementAndGet()}"
        t(s, dir, "orders").createOrReplaceTempView(ov)
        t(s, dir, "customer").createOrReplaceTempView(cv)
        try s.sql(
          s"""WITH keys AS (SELECT CASE WHEN c_custkey % 500 = 0 THEN NULL ELSE c_custkey END AS k
             |              FROM $cv WHERE c_custkey < 1000),
             |     clean AS (SELECT k FROM keys WHERE k IS NOT NULL)
             |SELECT
             |  (SELECT count(*) FROM $ov WHERE o_custkey NOT IN (SELECT k FROM keys)) AS n_not_in_with_null,
             |  (SELECT count(*) FROM $ov WHERE o_custkey NOT IN (SELECT k FROM clean)) AS n_not_in_clean,
             |  (SELECT count(*) FROM $ov o WHERE NOT EXISTS (SELECT 1 FROM keys c WHERE c.k = o.o_custkey)) AS n_not_exists,
             |  CAST((SELECT count(*) FROM $ov WHERE o_custkey NOT IN (SELECT k FROM keys)) = 0 AS BIGINT) AS trap_confirmed""".stripMargin)
        finally { s.catalog.dropTempView(ov); s.catalog.dropTempView(cv) }
      },
      Some(
        "WITH keys AS (SELECT CASE WHEN c_custkey % 500 = 0 THEN NULL ELSE c_custkey END AS k " +
          "FROM customer WHERE c_custkey < 1000), " +
          "clean AS (SELECT k FROM keys WHERE k IS NOT NULL) " +
          "SELECT " +
          "(SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys)) AS n_not_in_with_null, " +
          "(SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM clean)) AS n_not_in_clean, " +
          "(SELECT count(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM keys c WHERE c.k = o.o_custkey)) AS n_not_exists, " +
          "CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys)) = 0 AS BIGINT) AS trap_confirmed")),

    // Checkpoint RECOVERY, certified — the fault-tolerance contract every
    // production stream depends on and s01-s18 exercised only implicitly:
    // one watermarked daily aggregation runs as TWO SEPARATE query
    // incarnations sharing a checkpoint, with the input split so the
    // Jan-15 window STRADDLES the restart (its first half arrives before
    // the stop, its second half after) and a pre-restart sentinel parks
    // the watermark at Jan-15 22:00 so that window is open STATE at the
    // moment of recovery. The sink is the exactly-once file sink (the
    // memory sink refuses checkpoint recovery — by design), so the final
    // read sees each finalized window exactly once across both
    // incarnations. Hash-green against the batch oracle proves offsets,
    // watermark, AND aggregation state all survived the restart: a lost
    // straddler would emit a partial Jan-15 count, a replayed batch would
    // emit doubled early windows — either breaks the hash.
    NamedQuery(
      "s19_checkpoint_recovery",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("event_type"))
        val cut = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
        val sent1 = java.sql.Timestamp.valueOf("2024-01-15 23:00:00")
        val sent2 = java.sql.Timestamp.valueOf("2024-02-03 00:00:00")
        val tmp = java.nio.file.Files.createTempDirectory("s19_events_")
        val (rows, schema) = withShufflePartitions(s, 8) { try {
          import s.implicits._
          val inDir = s"$tmp/in"
          val outDir = s"$tmp/out"
          val ckpt = s"$tmp/ckpt"
          def sentinel(ts: java.sql.Timestamp, tag: String) =
            Seq((ts, tag)).toDF("ts", "event_type")
          def runIncarnation(): Unit = {
            val stream = s.readStream.schema(ev.schema).parquet(inDir)
              .withWatermark("ts", "1 hour")
            val out = stream
              .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
              .agg(count(lit(1)).as("n"))
              .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"), col("n"))
            val q = out.writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ckpt)
              .outputMode("append").start()
            try q.processAllAvailable()
            finally q.stop()
          }
          ev.filter(col("ts") < cut).write.mode("append").parquet(inDir)
          sentinel(sent1, "__s1").write.mode("append").parquet(inDir)
          runIncarnation() // emits days <= Jan 14; Jan 15 half-counted in STATE
          ev.filter(col("ts") >= cut).write.mode("append").parquet(inDir)
          sentinel(sent2, "__s2").write.mode("append").parquet(inDir)
          runIncarnation() // recovers state, finishes Jan 15, emits the rest
          val shaped = s.read.parquet(outDir)
            .filter(not(col("event_type").startsWith("__s")))
            .orderBy("window_start_us", "event_type")
          (shaped.collect().toSeq, shaped.schema)
        } finally deleteRecursively(tmp) }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      },
      Some(
        "SELECT epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS window_start_us, " +
          "event_type, CAST(count(*) AS BIGINT) AS n " +
          "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),

    // Edit-distance fuzzy join (entity resolution): planted one-char
    // typos of document "names" (their first-two-token string) must find
    // their sources within Levenshtein ≤ 2, candidates generated by
    // (first char, ±2 length band) BLOCKING — the classic cheap blocking
    // key that keeps a 100 TB name-matching job off the all-pairs cliff
    // (a one-char substitution preserves both). The DP distance is exact
    // integer arithmetic both engines implement identically, so the
    // oracle replays the planted mutation, the blocking predicate, and
    // every distance.
    NamedQuery(
      "d17_fuzzy_name_join",
      (s, dir) => {
        val toksC = TextOps.tokens(col("text"))
        val names = t(s, dir, "documents")
          .select(col("doc_id"), concat_ws(" ", slice(toksC, 1, 2)).as("name"))
        // typo: replace the 2nd char with 'q' (docs 0-29) — distance ≤ 1
        val probes = names
          .filter(col("doc_id") < 30)
          .select(
            (-(col("doc_id") + 1L)).as("probe_id"),
            concat(substring(col("name"), 1, 1), lit("q"), expr("substring(name, 3)")).as("pname"))
        probes
          .join(
            names,
            substring(col("pname"), 1, 1) === substring(col("name"), 1, 1) &&
              abs(length(col("pname")) - length(col("name"))) <= 2 &&
              levenshtein(col("pname"), col("name")) <= 2)
          .select(
            col("probe_id"), col("doc_id"),
            levenshtein(col("pname"), col("name")).as("dist"))
          .orderBy("probe_id", "doc_id")
      },
      Some(
        s"WITH names AS (SELECT doc_id, array_to_string(w[1:2], ' ') AS name " +
          s"FROM (SELECT doc_id, $duckToks AS w FROM documents)), " +
          "probes AS (SELECT -(doc_id + 1) AS probe_id, " +
          "substr(name, 1, 1) || 'q' || substr(name, 3) AS pname FROM names WHERE doc_id < 30) " +
          "SELECT p.probe_id, n.doc_id, CAST(levenshtein(p.pname, n.name) AS INTEGER) AS dist " +
          "FROM probes p JOIN names n ON substr(p.pname, 1, 1) = substr(n.name, 1, 1) " +
          "AND abs(len(p.pname) - len(n.name)) <= 2 AND levenshtein(p.pname, n.name) <= 2 " +
          "ORDER BY probe_id, doc_id")),

    // APS recall sweep — the cost-model claim behind O11 certified
    // empirically: probing more partitions (by the SAME probability
    // ranking) can only grow the candidate set, and an exact-top-k member
    // inside the candidate set always survives the final top-k, so
    // recall@10 is DETERMINISTICALLY monotone in nprobe and exactly 1.0
    // at full probe (kCoarse·kBase ≤ 64 partitions by construction). The
    // sweep fixes targetRecall = 1.0 and varies maxProbe — the cap then
    // IS the probe count — and scores each run against the cached exact
    // oracle. Recall values are seeded-k-means state, so the curve
    // crosses as bound flags (v06 technique); the monotone flag and the
    // recall-1.0-at-64 flag are exact invariants, not tolerances.
    NamedQuery(
      "v30_aps_recall_sweep",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val qs = embQueries(s, dir, 10)
        val model = indexFor(s, dir)
        val exact = graft.CacheScope.track(IvfSearch.exactTopK(emb, qs, 10).cache())
        val sweep = Seq(1, 4, 16, 64)
        val recalls: Seq[(Int, Double)] = sweep.map { np =>
          val res = IvfSearch.search(model, qs, IvfSearch.Params(k = 10, targetRecall = 1.0, maxProbe = np))
          np -> IvfSearch.recallAtK(res, exact, 10, qs).agg(avg(col("recall"))).head().getDouble(0)
        }
        recalls.zipWithIndex.map { case ((np, r), i) =>
          val prev = if (i == 0) 0.0 else recalls(i - 1)._2
          (np, 10L,
            if (r >= prev) 1L else 0L,
            if (np == 64) { if (r == 1.0) 1L else 0L } else 0L)
        }.toDF("n_probe", "n_queries", "recall_ge_prev", "full_recall_at_max")
          .orderBy("n_probe")
      },
      Some(
        "SELECT * FROM (VALUES (1, 10, 1, 0), (4, 10, 1, 0), " +
          "(16, 10, 1, 0), (64, 10, 1, 1)) " +
          "AS t(n_probe, n_queries, recall_ge_prev, full_recall_at_max) ORDER BY n_probe")),

    // LSH banding S-curve audit — the pigeonhole-probability contract of
    // d02's (numHashes 32, bands 16, r 2) configuration certified at
    // three planted similarity levels: suffix-drop (J ≈ 0.9), half-doc
    // (J ≈ 0.5), and head-6-tokens (J ≈ 0.05). For true Jaccard J the
    // banding-candidate probability is p = 1 − (1 − J²)¹⁶; per stratum
    // the observed candidate rate (seeded hashes ⇒ deterministic — green
    // once is green forever) must sit within 0.15 of the mean theoretical
    // p (n ≈ 450 pairs per stratum at sf0.01 ⇒ σ of the mean ≤ 0.024: a
    // 6σ bar). Every mutation keeps a CONTIGUOUS token span, so its
    // shingles are a subset of the original's and the exact per-pair
    // intersections/unions are pure integer arithmetic — `sum_inter` /
    // `sum_union` replay in the oracle exactly; the rate comparison
    // crosses as a bound flag. minEstJaccard = 0 so the audit sees RAW
    // banding, before any estimate threshold.
    NamedQuery(
      "d18_lsh_scurve_audit",
      (s, dir) => {
        import s.implicits._
        val toksC = TextOps.tokens(col("text"))
        // audit SAMPLE, not census: 1500 docs bound the audit's cost at
        // any corpus size (n ≈ 1350 pairs/stratum at sf0.1 keeps the
        // 6σ bar) — the shape a 100 TB deployment runs daily
        val base = t(s, dir, "documents")
          .select("doc_id", "text")
          .filter(col("doc_id") < 1500 && size(toksC) >= 20)
        val strata: Seq[(String, Long, org.apache.spark.sql.Column)] = Seq(
          ("drop2", 100000L, concat_ws(" ", slice(toksC, 3, 1000000))),
          ("half", 200000L, concat_ws(" ", slice(toksC, (size(toksC) / 2).cast("int") + 1, lit(1000000)))),
          ("head6", 300000L, concat_ws(" ", slice(toksC, 1, 6))))
        val mutated = strata.map { case (_, off, te) =>
          base.select((col("doc_id") + off).as("doc_id"), te.as("text"))
        }.reduce(_.unionByName(_))
        val corpus = base.unionByName(mutated)
        val found = Dedup
          .minhashLsh(corpus, shingleN = 3, numHashes = 32, bands = 16, minEstJaccard = 0.0)
          .select("doc_a", "doc_b")
        // exact per-pair set arithmetic WITHOUT materialized arrays: one
        // shingle-row table, per-doc distinct counts, and an equi-join on
        // (orig shingle = mutated shingle) per planted pair
        val sh = graft.CacheScope.track(
          TextOps.shingleRows(corpus, 3, distinctSet = true).cache())
        val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val offDf = strata.map { case (nm, off, _) => (nm, off) }.toDF("stratum", "off")
        val pairs = base.select(col("doc_id").as("doc_a"))
          .crossJoin(broadcast(offDf))
          .select(col("stratum"), col("doc_a"), (col("doc_a") + col("off")).as("doc_b"))
        // intersection via an equi-join on (source doc, shingle): the
        // mutated id encodes its source (id mod 1e5), so the join is
        // keyed and linear — never the unblocked shingle self-join
        val shA = sh.filter(col("doc_id") < 100000L)
          .select(col("doc_id").as("doc_a"), col("s"))
        val shB = sh.filter(col("doc_id") >= 100000L)
          .select(col("doc_id").as("doc_b"), pmod(col("doc_id"), lit(100000L)).as("doc_a"), col("s"))
        val inter = shB.join(shA, Seq("doc_a", "s"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
        val audited = pairs
          .join(cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
          .join(cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .join(found.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("hit"))
          .withColumn("j", col("n_inter").cast("double") /
            greatest(col("na") + col("nb") - col("n_inter"), lit(1L)))
          .withColumn("y", lit(1.0) - col("j") * col("j"))
          .withColumn("y2", col("y") * col("y"))
          .withColumn("y4", col("y2") * col("y2"))
          .withColumn("y8", col("y4") * col("y4"))
          .withColumn("p_theory", lit(1.0) - col("y8") * col("y8"))
        audited
          .groupBy("stratum")
          .agg(
            count(lit(1)).as("n_pairs"),
            sum("n_inter").as("sum_inter"),
            sum(col("na") + col("nb") - col("n_inter")).as("sum_union"),
            avg("hit").as("obs_rate"),
            avg("p_theory").as("theory_rate"))
          .select(
            col("stratum"), col("n_pairs"), col("sum_inter"), col("sum_union"),
            when(abs(col("obs_rate") - col("theory_rate")) <= 0.15, 1L).otherwise(0L).as("scurve_ok"))
          .orderBy("stratum")
      },
      Some {
        def shOf(expr: String) =
          s"list_distinct(list_transform(generate_series(1, greatest(len($expr) - 2, 0)), " +
            s"i -> ($expr)[i] || ' ' || ($expr)[i+1] || ' ' || ($expr)[i+2]))"
        s"WITH tok AS (SELECT doc_id, w FROM (SELECT doc_id, $duckToks AS w FROM documents WHERE doc_id < 1500) WHERE len(w) >= 20), " +
          s"st AS (SELECT doc_id, 'drop2' AS stratum, ${shOf("w")} AS sh_a, ${shOf("w[3:]")} AS sh_b FROM tok " +
          s"UNION ALL SELECT doc_id, 'half', ${shOf("w")}, ${shOf("w[len(w) // 2 + 1:]")} FROM tok " +
          s"UNION ALL SELECT doc_id, 'head6', ${shOf("w")}, ${shOf("w[1:6]")} FROM tok) " +
          "SELECT stratum, CAST(count(*) AS BIGINT) AS n_pairs, " +
          "CAST(sum(len(list_intersect(sh_a, sh_b))) AS BIGINT) AS sum_inter, " +
          "CAST(sum(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS BIGINT) AS sum_union, " +
          "CAST(1 AS BIGINT) AS scurve_ok " +
          "FROM st GROUP BY stratum ORDER BY stratum"
      }),

    // Offline k-NN GRAPH build (KnnJoin.knnGraph) — the precursor
    // artifact of graph-ANN index construction (NN-descent / HNSW seed
    // graphs), semantic-dedup neighborhoods, and label propagation: every
    // node's 5 nearest neighbors by exact squared L2, self-edges removed,
    // plus the graph-level per-node facts an index builder consumes —
    // rank-1 neighbor and MUTUAL-edge count (edges present in both
    // directions; high reciprocity is what makes the NN-descent refine
    // loop converge). Node set = even vec_ids under a FIXED cap
    // (vec_id < 1000): the exact path is O(|nodes|²) by nature — it is
    // the recall ORACLE, not the scale path — so the audited node set is
    // a constant-size sample that stays constant when the corpus grows
    // (the cap also keeps the DuckDB cross join bounded); the Spark plan
    // is the real blocked self-join (broadcast nodes × one corpus scan +
    // bounded heaps). At corpus scale the same operator takes the IVF
    // model and each node scans only its APS-probed cells — that path is
    // the REGISTERED v33 entry (recall also pinned in KnnJoinSpec). Distances
    // use the shared ascending-dim double fold, ties broken by (dist2,
    // dst) — every edge is deterministic, so the whole adjacency crosses
    // the oracle exactly; only integer ids/counts are emitted.
    NamedQuery(
      "v31_knn_graph",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(2)) === 0 && col("vec_id") < 1000)
          .select("vec_id", "embedding")
        // cached: the edge list feeds three consumers (nn1 + both sides
        // of the reciprocity self-join)
        val edges = graft.CacheScope.track(
          graft.index.KnnJoin.knnGraph(nodes, k = 5).cache())
        val nn1 = edges.filter(col("rnk") === 1)
          .select(col("src").as("vec_id"), col("dst").as("nn1"))
        val mutual = edges.as("a")
          .join(
            edges.as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src"),
            "left_semi")
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n_mutual"))
          .withColumnRenamed("src", "vec_id")
        nn1.join(mutual, Seq("vec_id"), "left")
          .na.fill(0L, Seq("n_mutual"))
          .orderBy("vec_id")
      },
      Some(
        "WITH n AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 1000), " +
          s"d AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${duckL2("a.embedding", "b.embedding")} AS dist2 " +
          "FROM n a JOIN n b ON a.vec_id <> b.vec_id), " +
          "e AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist2 ASC, dst ASC) AS rnk FROM d), " +
          "ek AS (SELECT src, dst, rnk FROM e WHERE rnk <= 5), " +
          "m AS (SELECT a.src AS src, count(*) AS n_mutual FROM ek a JOIN ek b ON a.src = b.dst AND a.dst = b.src GROUP BY a.src), " +
          "g AS (SELECT src, max(CASE WHEN rnk = 1 THEN dst END) AS nn1 FROM ek GROUP BY src) " +
          "SELECT g.src AS vec_id, g.nn1 AS nn1, CAST(COALESCE(m.n_mutual, 0) AS BIGINT) AS n_mutual " +
          "FROM g LEFT JOIN m USING (src) ORDER BY vec_id")),

    // Offline k-NN GRAPH build, SCALE PATH (KnnJoin.knnGraph with the
    // shared IVF model — v31's exact twin above is the fixed-sample
    // oracle): every node probes only its APS-chosen cells, so the plan
    // is broadcast(probes) against the partition-pruned corpus — no
    // nodes×nodes crossJoin anywhere (pinned in PlanAuditSpec), the
    // shape that survives a billion-node corpus. APS probing is
    // seeded-deterministic but not SQL-portable, so the oracle takes the
    // v02 bound-flag shape: coverage (every node emits edges), shape
    // (≤ k rank-bounded out-edges, no self edges), corpus membership,
    // and recall@5 vs the EXACT graph on a FIXED node sample
    // (vec_id < 400 — constant at any corpus scale, so the recall audit
    // costs O(sample·|corpus|) while the graph itself is the probed
    // plan; observed recall ≥ 0.97 across sfs vs the 0.9 bar).
    NamedQuery(
      "v33_knn_graph_ivf",
      (s, dir) => {
        val k = 5
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        // three consumers (shape, membership, recall) — CacheScope drops it
        val graph = graft.CacheScope.track(
          graft.index.KnnJoin.knnGraph(nodes, k, Some(indexFor(s, dir))).cache())
        val counts = nodes.agg(count(lit(1)).as("n_nodes"))
        val shape = graph
          .groupBy("src")
          .agg(
            count(lit(1)).as("deg"),
            max("rnk").as("mr"),
            sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("selfs"))
          .agg(
            count(lit(1)).as("n_src"),
            min(when(col("deg") <= k && col("mr") <= k, 1L).otherwise(0L)).as("k_ok"),
            sum("selfs").as("n_self"))
        val member = graph
          .select(col("dst").as("vec_id"))
          .join(nodes.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        val sample = nodes
          .filter(col("vec_id") < 400)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        // self sits at exact rank 1 (dist 0, no duplicate vectors in the
        // fixture), so k+1 then self-drop leaves exactly the true top-5
        val exactG = graft.index.KnnJoin.exact(sample, nodes, k + 1)
          .filter(col("vec_id") =!= col("query_id"))
        val ivfSample = graph
          .filter(col("src") < 400)
          .select(col("src").as("query_id"), col("dst").as("vec_id"))
        val recall = IvfSearch
          .recallAtK(ivfSample, exactG, k, sample)
          .agg(avg("recall").as("m"))
          .select(when(col("m") >= 0.9, 1L).otherwise(0L).as("recall_ok"))
        counts
          .crossJoin(shape)
          .crossJoin(member)
          .crossJoin(recall)
          .select(
            col("n_nodes"),
            when(col("n_src") === col("n_nodes"), 1L).otherwise(0L).as("coverage_ok"),
            when(col("k_ok") === 1 && col("n_self") === 0, 1L).otherwise(0L).as("shape_ok"),
            col("member_ok"),
            col("recall_ok"))
      },
      Some(
        "SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_nodes, " +
          "CAST(1 AS BIGINT) AS coverage_ok, CAST(1 AS BIGINT) AS shape_ok, " +
          "CAST(1 AS BIGINT) AS member_ok, CAST(1 AS BIGINT) AS recall_ok")),

    // NN-DESCENT refinement round (KnnJoin.nnDescentRound — Dong et al.,
    // WWW'11) over the v33 probed seed graph: the local-search step every
    // graph-ANN build iterates. Candidates = current undirected
    // neighborhood's neighborhoods (bounded (2k)² fan-out through
    // equality joins on the node key — no all-pairs product) ∪ current
    // edges, exact re-rank. Because the refined top-k re-ranks a
    // SUPERSET of the seed edges, per-node exact-graph recall is
    // monotonically non-decreasing BY CONSTRUCTION — the oracle states
    // that invariant as a flag and the query MEASURES it (improved_ok),
    // alongside the v33 shape/membership/recall-bar flags on the refined
    // graph (observed: refinement lifts sample recall to ≥ the seed's
    // 0.97+ at every sf).
    NamedQuery(
      "v34_knn_graph_refine",
      (s, dir) => {
        val k = 5
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        val seed = graft.CacheScope.track(
          graft.index.KnnJoin.knnGraph(nodes, k, Some(indexFor(s, dir))).cache())
        val refined = graft.CacheScope.track(
          graft.index.KnnJoin.nnDescentRound(seed, nodes, k).cache())
        val sample = nodes
          .filter(col("vec_id") < 400)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val exactG = graft.index.KnnJoin.exact(sample, nodes, k + 1)
          .filter(col("vec_id") =!= col("query_id"))
        def meanRecall(g: DataFrame) = IvfSearch
          .recallAtK(
            g.filter(col("src") < 400).select(col("src").as("query_id"), col("dst").as("vec_id")),
            exactG, k, sample)
          .agg(avg("recall").as("m"))
        val rSeed = meanRecall(seed).select(col("m").as("m_seed"))
        val rRef = meanRecall(refined).select(col("m").as("m_ref"))
        val shape = refined
          .groupBy("src")
          .agg(
            count(lit(1)).as("deg"),
            max("rnk").as("mr"),
            sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("selfs"))
          .agg(
            count(lit(1)).as("n_src"),
            min(when(col("deg") <= k && col("mr") <= k, 1L).otherwise(0L)).as("k_ok"),
            sum("selfs").as("n_self"))
        val member = refined
          .select(col("dst").as("vec_id"))
          .join(nodes.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        nodes.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(rSeed)
          .crossJoin(rRef)
          .crossJoin(shape)
          .crossJoin(member)
          .select(
            col("n_nodes"),
            // 1e-9 slack: per-node recall is non-decreasing exactly, but
            // the two avg() folds associate differently — an ulp of
            // summation wobble on EQUAL means must not flip the flag
            when(col("m_ref") >= col("m_seed") - 1e-9, 1L).otherwise(0L).as("improved_ok"),
            when(col("m_ref") >= 0.9, 1L).otherwise(0L).as("recall_ok"),
            when(col("n_src") === col("n_nodes") && col("k_ok") === 1 && col("n_self") === 0, 1L)
              .otherwise(0L).as("shape_ok"),
            col("member_ok"))
      },
      Some(
        "SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_nodes, " +
          "CAST(1 AS BIGINT) AS improved_ok, CAST(1 AS BIGINT) AS recall_ok, " +
          "CAST(1 AS BIGINT) AS shape_ok, CAST(1 AS BIGINT) AS member_ok")),

    // NN-DESCENT k-NN graph CONSTRUCTION (KnnJoin.knnGraphDescent) — the
    // DEFAULT index-free build path, and the registered cold-build
    // operator the scale probe times in its fresh child JVM. v33's
    // probed build needs a trained IVF model first and its cold cost
    // rides the cell-size distribution (same binary, same n, 1.6× swing
    // across corpus rolls at 10× — BENCH_NOTES r19); this path is pure
    // equality-join algebra from a ladder seed: Θ(rounds·n·kd²)
    // candidate pairs whatever the corpus geometry, no k-means training
    // anywhere. Flags — coverage (every node emits edges, guaranteed by
    // the circular random ladder), shape (≤ k rank-bounded out-edges,
    // no self edges), corpus membership (seed and descent only ever
    // reference node ids), and PLANTED-NEIGHBOR recall: 100
    // deterministic twins (+0.001 perturbations of vec_id < 100, the
    // s20/s21 planting technique) join the corpus before the build, and
    // ≥ 95% of them must emit their twin source as an out-edge. The
    // twin sits at dist² ≈ 6.4e-5 vs ≥ ~1.0 for every other pair (the
    // fixture is near-orthogonal, max cosine ≈ 0.51), so each planted
    // edge is the unambiguous global rank-1 — the flag certifies the
    // construction finds TRUE near neighbors where they exist, the
    // near-dup/semantic-dedup contract this operator serves at corpus
    // scale, and it is scale-stable by construction. GLOBAL exact-graph
    // recall is deliberately NOT this row's flag: on this
    // near-orthogonal synthetic fixture it collapses for ANY
    // local/sublinear method as n grows (measured at the 10× corpus,
    // 20k nodes: ladder+descent 0.35–0.49 regardless of rounds;
    // random-pivot Voronoi seeding 0.13 flat — no exploitable local
    // structure at that density; the probed path's 0.97 there rides an
    // APS scan whose measured growth is ≈ linear, exp 1.056). The
    // global bar lives in KnnJoinSpec at the density where global
    // recall is meaningful (0.985–0.992 measured); BENCH_NOTES r20
    // carries the full curve. Construction is deterministic up to
    // repartitionByRange's sampled bucket boundaries, so the FLAGS (not
    // the edge list) are the contract — the v02/v33 bound-flag pattern.
    NamedQuery(
      "v45_knn_graph_descent",
      (s, dir) => {
        val k = 5
        val base = t(s, dir, "embeddings").select("vec_id", "embedding")
        val planted = base
          .filter(col("vec_id") < 100)
          .select(
            (col("vec_id") + 5000000L).as("vec_id"),
            transform(
              col("embedding"),
              (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.001f)).otherwise(lit(-0.001f)))
              .as("embedding"))
        val nodes = base.unionByName(planted)
        // three consumers (shape, membership, planted) — CacheScope drops it
        val graph = graft.CacheScope.track(
          graft.index.KnnJoin.knnGraphDescent(nodes, k).cache())
        val counts = nodes.agg(count(lit(1)).as("n_nodes"))
        val shape = graph
          .groupBy("src")
          .agg(
            count(lit(1)).as("deg"),
            max("rnk").as("mr"),
            sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("selfs"))
          .agg(
            count(lit(1)).as("n_src"),
            min(when(col("deg") <= k && col("mr") <= k, 1L).otherwise(0L)).as("k_ok"),
            sum("selfs").as("n_self"))
        val member = graph
          .select(col("dst").as("vec_id"))
          .join(nodes.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        val plantedHits = graph
          .filter(col("src") >= 5000000L && col("src") === col("dst") + 5000000L)
          .agg(count(lit(1)).as("hits"))
          .select(when(col("hits") >= 95L, 1L).otherwise(0L).as("planted_ok"))
        counts
          .crossJoin(shape)
          .crossJoin(member)
          .crossJoin(plantedHits)
          .select(
            col("n_nodes"),
            when(col("n_src") === col("n_nodes"), 1L).otherwise(0L).as("coverage_ok"),
            when(col("k_ok") === 1 && col("n_self") === 0, 1L).otherwise(0L).as("shape_ok"),
            col("member_ok"),
            col("planted_ok"))
      },
      Some(
        "SELECT CAST((SELECT count(*) + 100 FROM embeddings) AS BIGINT) AS n_nodes, " +
          "CAST(1 AS BIGINT) AS coverage_ok, CAST(1 AS BIGINT) AS shape_ok, " +
          "CAST(1 AS BIGINT) AS member_ok, CAST(1 AS BIGINT) AS planted_ok")),

    // Graph-ANN BEAM SEARCH (index/GraphSearch) — the query-time half of
    // the graph index family and the full hierarchical stack every
    // production graph index runs (HNSW upper-layers→layer-0 / DiskANN
    // medoid→greedy), closing the v33→v34 arc: build the probed k-NN
    // graph at degree 8 (degree is THE navigability lever — the degree-5
    // graph tops out at 0.91 recall at 10× even with beam 192), refine it
    // one NN-descent round, route each query with a deliberately-cheap
    // IVF pass (k=4, ≤2 probes — the coarse router, not the answer), then
    // beam-walk locally. Per query the walk is O(rounds·beam·degree) —
    // independent of corpus size; the seeds absorb density. The beam
    // re-ranks a superset of itself every hop (monotone by construction,
    // spec-pinned); recall/shape/membership cross the oracle as v02-style
    // bound flags (observed mean recall@10: ~0.99 at 1×, 0.953-0.970 at
    // the 10× measured point — bar 0.85; BeamProbe holds the curves).
    NamedQuery(
      "v35_graph_beam_search",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        // served from the session graph cache (deploy-once): the build
        // itself is v33's registered operator, the refinement v34's
        val refined = refinedGraphFor(s, dir, 8)
        val q = nodes
          .filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        // per-query IVF seeds — the hierarchical-router form (HNSW upper
        // layers / DiskANN medoid): a GLOBAL entry set decays with corpus
        // growth no matter the beam (BeamProbe at 10×: ≤ 0.73 recall from
        // 32 spread entries on the degree-5 graph, ≤ 0.91 at beam 192),
        // while a deliberately-cheap IVF pass (k=4, ≤2 probes) drops each
        // walk inside its own neighborhood and the degree-8 refined graph
        // carries it home: measured 0.953-0.970 at 10× (beam 32-64,
        // rounds 8) vs the 0.85 bar. Per-query walk cost stays
        // O(rounds·beam·deg), corpus-size-independent — the seeds, not
        // the budget, absorb density.
        val ivfSeeds = IvfSearch
          .search(indexFor(s, dir), q, IvfSearch.Params(k = 4, targetRecall = 0.5, maxProbe = 2))
          .select("query_id", "vec_id")
        val got = graft.CacheScope.track(
          graft.index.GraphSearch
            .searchFrom(q, refined, nodes, ivfSeeds, k = 10, beam = 64, rounds = 8)
            .cache())
        val exactG = graft.index.KnnJoin.exact(q, nodes, 10)
        val rec = IvfSearch
          .recallAtK(got.select("query_id", "vec_id"), exactG, 10, q)
          .agg(avg("recall").as("m"))
        val shape = got
          .groupBy("query_id")
          .agg(
            count(lit(1)).as("n"),
            countDistinct("vec_id").as("nd"),
            max("rnk").as("mr"))
          .agg(
            count(lit(1)).as("n_q"),
            min(when(col("n") === 10 && col("nd") === 10 && col("mr") === 10, 1L)
              .otherwise(0L)).as("k_ok"))
        val member = got
          .select(col("vec_id"))
          .join(nodes.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        rec.crossJoin(shape).crossJoin(member)
          .select(
            col("n_q").cast("long").as("n_queries"),
            when(col("m") >= 0.85, 1L).otherwise(0L).as("recall_ok"),
            col("k_ok").as("shape_ok"),
            col("member_ok"))
      },
      Some(
        "SELECT CAST(100 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok, " +
          "CAST(1 AS BIGINT) AS shape_ok, CAST(1 AS BIGINT) AS member_ok")),

    // α-RNG EDGE PRUNING (index/GraphPrune — DiskANN RobustPrune /
    // HNSW's select-neighbors heuristic): the edge-selection rule that
    // makes a fixed out-degree budget navigable — an edge is dropped
    // when an already-kept nearer neighbor covers its direction
    // (α·d(b,c) ≤ d(p,c)), so the degree spends on diverse directions
    // instead of one dense cluster. Certified facts, v02-style flags:
    // the degree budget holds everywhere, the nearest candidate always
    // survives as rank 1 (distance-exact vs the candidate graph), the
    // α→∞ limit degenerates EXACTLY to the plain top-R cut (pruning is
    // a strict generalization, edge-set equality checked), and beam
    // search routed by the cheap IVF pass over the PRUNED degree-8
    // graph still clears v35's 0.85 bar at the same walk budget
    // (pruning costs nothing where the data is unclustered — the
    // fixture's random-unit regime — and buys direction coverage where
    // it is; the diversity toy is spec-pinned in GraphPruneSpec). The
    // prune itself is bounded per-node work: top-16 candidates via the
    // probed graph build, one bounded gather for candidate vectors,
    // mapGroups over ≤16 rows per node.
    NamedQuery(
      "v36_graph_alpha_prune",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        // candidate pool from the session graph cache (deploy-once); the
        // exact-scored bounded candidate table is computed ONCE and both
        // α passes (1.2 and the →∞ audit below) prune from it — the
        // per-α cost is only the bounded mapGroups scan
        val cands = knnGraphFor(s, dir, 16)
        val top = graft.CacheScope.track(
          graft.index.GraphPrune.topCandidates(cands, nodes, cap = 32).cache())
        val pruned = graft.CacheScope.track(
          graft.index.GraphPrune.pruneFrom(top, r = 8, alpha = 1.2).cache())
        val deg = pruned.groupBy("src")
          .agg(count(lit(1)).as("n"), countDistinct("dst").as("nd"))
          .agg(
            count(lit(1)).as("n_nodes"),
            min(when(col("n") <= 8 && col("nd") === col("n"), 1L).otherwise(0L))
              .as("degree_ok"))
        val nearest = cands.filter(col("rnk") === 1).select("src", "dst", "dist2")
        val kept1 = pruned.filter(col("rnk") === 1).select("src", "dst", "dist2")
        val nearestOk = nearest.exceptAll(kept1).unionAll(kept1.exceptAll(nearest))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("nearest_ok"))
        val inf = graft.index.GraphPrune.pruneFrom(top, r = 8, alpha = 1e9)
          .select("src", "dst", "rnk")
        val plain = cands.filter(col("rnk") <= 8).select("src", "dst", "rnk")
        val infOk = inf.exceptAll(plain).unionAll(plain.exceptAll(inf))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("alpha_inf_ok"))
        val q = nodes
          .filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val ivfSeeds = IvfSearch
          .search(indexFor(s, dir), q, IvfSearch.Params(k = 4, targetRecall = 0.5, maxProbe = 2))
          .select("query_id", "vec_id")
        val got = graft.index.GraphSearch
          .searchFrom(q, pruned, nodes, ivfSeeds, k = 10, beam = 64, rounds = 8)
        val exactG = graft.index.KnnJoin.exact(q, nodes, 10)
        val rec = IvfSearch
          .recallAtK(got.select("query_id", "vec_id"), exactG, 10, q)
          .agg(avg("recall").as("m"))
        deg.crossJoin(nearestOk).crossJoin(infOk).crossJoin(rec)
          .select(
            col("n_nodes").cast("long").as("n_nodes"),
            col("degree_ok"),
            col("nearest_ok"),
            col("alpha_inf_ok"),
            when(col("m") >= 0.85, 1L).otherwise(0L).as("recall_ok"))
      },
      Some(
        "SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_nodes, " +
          "CAST(1 AS BIGINT) AS degree_ok, CAST(1 AS BIGINT) AS nearest_ok, " +
          "CAST(1 AS BIGINT) AS alpha_inf_ok, CAST(1 AS BIGINT) AS recall_ok " +
          "FROM embeddings")),

    // HIERARCHICAL navigable-graph ANN (index/Hnsw — Malkov & Yashunin
    // TPAMI 2018, deterministic levels): the graph family standing ALONE
    // end-to-end — nested layers by hash level (xxhash64(id) mod 16^i ==
    // 0, the geometric HNSW level law made reproducible), a k-NN graph
    // per layer, search brute-scoring the ≤256-node top layer and
    // DESCENDING (each layer's beam result seeds the next layer's walk —
    // the routing v35 borrows from IVF, done graph-natively). Search
    // touches O(layers·rounds·beam·deg) vectors per query — logarithmic
    // in n through the layer count. Flags: hierarchy actually engaged
    // (≥2 layers), recall@10 vs the in-query exact oracle ≥ the 0.85
    // bar (observed ~0.99 at 1×, ~0.95 at the 10× point where the stack
    // is 3 layers deep), k contiguous distinct ranks, membership.
    NamedQuery(
      "v37_hnsw_search",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        // the whole stack (layer 0 graph AND the geometrically smaller
        // upper layers) is the session-scoped deploy-once artifact —
        // v37/v38/v39 consume it the way production queries consume a
        // deployed index; v33/v34 remain the registered build operators
        val layers = stackFor(s, dir)
        val q = nodes
          .filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val got = graft.CacheScope.track(
          graft.index.Hnsw.search(q, layers, k = 10, beam = 64, rounds = 8).cache())
        val exactG = graft.index.KnnJoin.exact(q, nodes, 10)
        val rec = IvfSearch
          .recallAtK(got.select("query_id", "vec_id"), exactG, 10, q)
          .agg(avg("recall").as("m"))
        val shape = got
          .groupBy("query_id")
          .agg(
            count(lit(1)).as("n"),
            countDistinct("vec_id").as("nd"),
            max("rnk").as("mr"))
          .agg(
            count(lit(1)).as("n_q"),
            min(when(col("n") === 10 && col("nd") === 10 && col("mr") === 10, 1L)
              .otherwise(0L)).as("k_ok"))
        val member = got
          .select(col("vec_id"))
          .join(nodes.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("member_ok"))
        rec.crossJoin(shape).crossJoin(member)
          .select(
            col("n_q").cast("long").as("n_queries"),
            lit(if (layers.length >= 2) 1L else 0L).as("layers_ok"),
            when(col("m") >= 0.85, 1L).otherwise(0L).as("recall_ok"),
            col("k_ok").as("shape_ok"),
            col("member_ok"))
      },
      Some(
        "SELECT CAST(100 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS layers_ok, " +
          "CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS shape_ok, " +
          "CAST(1 AS BIGINT) AS member_ok")),

    // HNSW batch INSERT (index/Hnsw.insert — the reference's online
    // insert, quake_min.py:92-109 / adaptive_ivf.mjs:194-218, mapped
    // semantically at micro-batch granularity): new rows route by the
    // SAME deterministic level rule the build used, descend the stack
    // like queries, attach their nearest-k walk candidates (the rule
    // these top-k graphs were built with — matching delete's measured
    // repair-rule discipline), and only the TOUCHED old neighborhoods
    // re-select their edges — closing the mutation asymmetry between
    // the graph family
    // and the IVF family (O8/O9/s02 have had insert/delete since round
    // 7). Certified facts, v02-style flags over a batch of 20 planted
    // near-duplicates at ids far outside the corpus range: membership of
    // EVERY grown layer equals the hash level rule over (corpus ∪ batch)
    // — the stack an offline rebuild would route, so level nesting is
    // insert-invariant (nesting_ok); every layer's out-degree budget
    // survives the repair (degree_ok); and a probe AT each planted
    // vector recovers the planted id at rank 1 through the full
    // hierarchical search (planted_ok) — the s02-equivalent
    // rank-1-found contract. Per batch row the work is one stack search
    // + bounded prune; repairs touch ≤ |batch|·k old nodes.
    NamedQuery(
      "v38_hnsw_insert",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        val shrink = 16
        val layers = stackFor(s, dir)
        // planted batch: nearest-possible neighbors of 20 existing rows
        // (first component nudged 1e-3) at ids 1e9+i — disjoint from any
        // fixture/scale-up id range
        val batch = graft.CacheScope.track(
          nodes.filter(col("vec_id") < 20)
            .select(
              (col("vec_id") + 1000000000L).as("vec_id"),
              concat(
                array((element_at(col("embedding"), 1) + lit(0.001f)).cast("float")),
                slice(col("embedding"), 2, 1000000)).as("embedding"))
            .cache())
        // v37's calibrated walk budget (beam 64, rounds 8): the attach
        // walk and the post-insert probe both need it — beam 32/rounds 6
        // held at 1× but dropped planted recoveries at the 10× density.
        // No caching here: insert returns lineage-truncated
        // (localCheckpoint'd) layers already materialized.
        val grown = graft.index.Hnsw
          .insert(layers, batch, k = 8, beam = 64, rounds = 8, shrink = shrink)
        val allIds = nodes.select("vec_id").unionByName(batch.select("vec_id"))
        val L = grown.length
        // ONE exceptAll pair over layer-tagged unions instead of one
        // pair per layer (v44's eqFlag rationale — per-layer multiset
        // equality is multiset equality of the tagged unions; ~2/3 of
        // the flag's exchange jobs gone)
        val nesting = {
          val have = grown.zipWithIndex.map { case (l, p) =>
            l.nodes.select(lit(p).as("layer"), col("vec_id"))
          }.reduce(_.unionAll(_))
          val want = grown.indices.map { p =>
            var mod = 1L
            (0 until (L - 1 - p)).foreach(_ => mod *= shrink)
            allIds.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
              .select(lit(p).as("layer"), col("vec_id"))
          }.reduce(_.unionAll(_))
          have.exceptAll(want).unionAll(want.exceptAll(have))
            .agg(count(lit(1)).as("bad"))
            .select(when(col("bad") === 0, 1L).otherwise(0L).as("nesting_ok"))
        }
        // one aggregation over the layer-tagged union instead of one per
        // layer: max out-degree over (layer, src) is the same bound
        val degree = grown.zipWithIndex.map { case (l, p) =>
          l.graph.select(lit(p).as("layer"), col("src"))
        }.reduce(_.unionAll(_))
          .groupBy("layer", "src").agg(count(lit(1)).as("n"))
          .agg(max("n").as("m"))
          .select(when(col("m") <= 8, 1L).otherwise(0L).as("degree_ok"))
        val probes = batch.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val planted = graft.index.Hnsw.search(probes, grown, k = 3, beam = 64, rounds = 8)
          .filter(col("rnk") === 1)
          .agg(
            count(lit(1)).as("n1"),
            sum(when(col("query_id") === col("vec_id"), 1L).otherwise(0L)).as("hits"))
          .select(when(col("n1") === 20 && col("hits") === 20, 1L).otherwise(0L).as("planted_ok"))
        // the repaired-neighborhood counterpart of planted_ok: the 20
        // SOURCE rows are exactly the members whose adjacency the insert
        // repaired (their planted near-dup arrived beside them), so
        // probing AT them measures whether the matched-top-k repair kept
        // the old neighborhoods navigable — the member-recall fact the
        // repair-rule discipline (insert doc step 3) claims
        val allRows = nodes.unionByName(batch)
        val memberProbes = nodes.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val memberGot = graft.index.Hnsw.search(memberProbes, grown, k = 10, beam = 64, rounds = 8)
        val memberRec = IvfSearch
          .recallAtK(
            memberGot.select("query_id", "vec_id"),
            graft.index.KnnJoin.exact(memberProbes, allRows, 10),
            10, memberProbes)
          .agg(avg("recall").as("m"))
          .select(when(col("m") >= 0.85, 1L).otherwise(0L).as("member_recall_ok"))
        batch.agg(count(lit(1)).as("n_new"))
          .crossJoin(nesting)
          .crossJoin(degree)
          .crossJoin(planted)
          .crossJoin(memberRec)
      },
      Some(
        "SELECT CAST(20 AS BIGINT) AS n_new, CAST(1 AS BIGINT) AS nesting_ok, " +
          "CAST(1 AS BIGINT) AS degree_ok, CAST(1 AS BIGINT) AS planted_ok, " +
          "CAST(1 AS BIGINT) AS member_recall_ok")),

    // HNSW batch DELETE (index/Hnsw.delete — O9's anti-join semantics
    // done graph-natively with FreshDiskANN's consolidation, Singh et
    // al. arXiv:2105.09613): deleted members leave every layer, their
    // out-edges drop, and each surviving node adjacent to a deleted id
    // re-selects its ≤ k out-edges by PLAIN NEAREST-k — the rule these
    // top-k graphs were BUILT with, deliberately NOT the α-RNG heuristic
    // (α-repair measured 0.69-0.76 recall@10 at deleted spots vs 0.94,
    // Hnsw.scala's delete doc) — over (its remaining edges ∪ the local
    // clique of each hole's surviving neighborhood) — the repair that
    // preserves navigability where a hole opened, bounded by the
    // touched set. Completes the graph family's
    // mutation story (v38 insert / v39 delete ↔ the IVF family's
    // O8/O9). Flags: every layer's membership equals nodes-minus-
    // deleted (the hash level rule over survivors — delete cannot move
    // anyone between layers), degree budget survives the repair, no
    // edge endpoint references a deleted id (dangling_ok), and probing
    // AT each of 10 deleted vectors returns only survivors (gone_ok)
    // with recall@10 ≥ 0.85 vs the exact answer over the survivor set
    // (recall_ok) — the search quality a hole would have destroyed
    // without the bridge repair. The probe runs at the NON-ANCHORED
    // search budget (perLayerK 64, beam 256): a deleted-spot query is
    // the adversarial out-of-distribution case — its best possible
    // anchor is gone by construction, so it has no distance-0 member to
    // snap onto and needs more descent carriers and a wider beam than
    // v37's member probes (HNSW's efSearch ≫ k rule for non-member
    // queries). Measured at the 10× corpus: repaired stack 0.69 at the
    // member budget vs 0.96 at this budget — while a FULL layer-0
    // REBUILD over survivors scores only 0.44/0.88 on the same probes,
    // i.e. the clique patch beats the rebuild it approximates; the
    // budget, not the repair, was the binding constraint.
    NamedQuery(
      "v39_hnsw_delete",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        val layers = stackFor(s, dir)
        val ids = nodes.filter(col("vec_id") >= 100 && col("vec_id") < 110).select("vec_id")
        val shrunk = graft.index.Hnsw.delete(layers, ids, k = 8)
        // layer-tagged single-pass flags (v44's eqFlag rationale)
        val membership = {
          val want = layers.zipWithIndex.map { case (old, p) =>
            old.nodes.select(lit(p).as("layer"), col("vec_id"))
          }.reduce(_.unionAll(_)).join(ids, Seq("vec_id"), "left_anti")
            // a USING join reorders output columns (the join key moves to
            // the front) and exceptAll compares POSITIONALLY — re-pin the
            // tagged order or every (layer, vec_id) row mismatches its
            // (vec_id, layer) counterpart
            .select(col("layer"), col("vec_id"))
          val have = shrunk.zipWithIndex.map { case (s2, p) =>
            s2.nodes.select(lit(p).as("layer"), col("vec_id"))
          }.reduce(_.unionAll(_))
          have.exceptAll(want).unionAll(want.exceptAll(have))
            .agg(count(lit(1)).as("bad"))
            .select(when(col("bad") === 0, 1L).otherwise(0L).as("membership_ok"))
        }
        val degree = shrunk.zipWithIndex.map { case (s2, p) =>
          s2.graph.select(lit(p).as("layer"), col("src"))
        }.reduce(_.unionAll(_))
          .groupBy("layer", "src").agg(count(lit(1)).as("n"))
          .agg(max("n").as("m"))
          .select(when(col("m") <= 8, 1L).otherwise(0L).as("degree_ok"))
        val dangling = shrunk.map { s2 =>
          s2.graph.select(col("src").as("vec_id"))
            .unionAll(s2.graph.select(col("dst").as("vec_id")))
        }.reduce(_.unionAll(_))
          .join(ids, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("dangling_ok"))
        val probes = nodes.filter(col("vec_id") >= 100 && col("vec_id") < 110)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val got = graft.CacheScope.track(
          graft.index.Hnsw
            .search(probes, shrunk, k = 10, beam = 256, rounds = 8, perLayerK = 64)
            .cache())
        val gone = got.join(ids, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("gone_ok"))
        val survivors = nodes.join(ids, Seq("vec_id"), "left_anti")
        val exactG = graft.index.KnnJoin.exact(probes, survivors, 10)
        val rec = IvfSearch
          .recallAtK(got.select("query_id", "vec_id"), exactG, 10, probes)
          .agg(avg("recall").as("m"))
          .select(when(col("m") >= 0.85, 1L).otherwise(0L).as("recall_ok"))
        ids.agg(count(lit(1)).as("n_deleted"))
          .crossJoin(membership)
          .crossJoin(degree)
          .crossJoin(dangling)
          .crossJoin(gone)
          .crossJoin(rec)
      },
      Some(
        "SELECT CAST(10 AS BIGINT) AS n_deleted, CAST(1 AS BIGINT) AS membership_ok, " +
          "CAST(1 AS BIGINT) AS degree_ok, CAST(1 AS BIGINT) AS dangling_ok, " +
          "CAST(1 AS BIGINT) AS gone_ok, CAST(1 AS BIGINT) AS recall_ok")),

    // HNSW SAVED-ARTIFACT search (index/Hnsw.save/load — the deploy-once
    // contract the build doc promises, completing the persistence parity
    // with the IVF family: v09 certifies search over IvfModel.save's
    // artifact, v40 certifies search over Hnsw.save's): the session
    // stack is persisted ONCE per dir (layer-per-directory Parquet,
    // graphs repartitioned on src so the loaded walk's joins read
    // co-located row groups), loaded back as plain scans, and the SAME
    // 100 probes v37 runs must return the EXACT same (query_id, vec_id,
    // rnk, dist2) rows through the loaded stack as through the live one
    // — search is deterministic arithmetic over float32 vectors and
    // Parquet round-trips them exactly, so set equality (both exceptAll
    // directions empty) is the honest bar, stronger than any recall
    // flag. layers_ok pins that the loaded stack kept the hierarchy.
    NamedQuery(
      "v40_hnsw_saved_search",
      (s, dir) => {
        val live = stackFor(s, dir)
        val loaded = graft.index.Hnsw.load(s, hnswArtifactsFor(s, dir))
        val q = t(s, dir, "embeddings")
          .filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val gotLoaded = graft.CacheScope.track(
          graft.index.Hnsw.search(q, loaded, k = 10, beam = 64, rounds = 8).cache())
        val gotLive = graft.index.Hnsw.search(q, live, k = 10, beam = 64, rounds = 8)
        val diff = gotLoaded.exceptAll(gotLive)
          .unionAll(gotLive.exceptAll(gotLoaded))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("same_ok"))
        gotLoaded.select(countDistinct("query_id").as("n_queries"))
          .crossJoin(diff)
          .select(
            col("n_queries"),
            lit(if (loaded.length == live.length && loaded.length >= 2) 1L else 0L)
              .as("layers_ok"),
            col("same_ok"))
      },
      Some(
        "SELECT CAST(100 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS layers_ok, " +
          "CAST(1 AS BIGINT) AS same_ok")),

    // HNSW POST-INSERT MAINTENANCE (KnnJoin.nnDescentRound over a grown
    // stack's layer 0 — certifying the promise in Hnsw.insert's doc):
    // insert deliberately creates NO intra-batch edges (attach
    // candidates come from walks over the pre-existing members,
    // mirroring how the reference's per-row inserts only see rows
    // already present), so a batch containing mutual near-duplicates
    // leaves them unlinked — and one NN-descent round (neighbors-of-
    // neighbors re-selection) is the maintenance operator that recovers
    // those edges: both planted rows attach to the SAME source
    // neighborhood, making each a two-hop candidate of the other. The
    // batch plants 10 PAIRS (ids 1e9+i and 2e9+i, first component of
    // source row i nudged +0.001/+0.002 — each pair's two members are
    // each other's true nearest neighbor). Flags: all 20 directed
    // pair edges ABSENT from the grown layer-0 graph (the documented
    // limitation, measured), all 20 PRESENT after one descent round
    // (the recovery, measured), and the refined graph holds the degree
    // budget. Per-round descent work is |edges|·deg bounded — the same
    // scale shape v34 certifies on the static graph.
    NamedQuery(
      "v41_hnsw_insert_maintain",
      (s, dir) => {
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        val layers = stackFor(s, dir)
        def planted(shift: Long, nudge: Float) = nodes
          .filter(col("vec_id") < 10)
          .select(
            (col("vec_id") + shift).as("vec_id"),
            concat(
              array((element_at(col("embedding"), 1) + lit(nudge)).cast("float")),
              slice(col("embedding"), 2, 1000000)).as("embedding"))
        val batch = graft.CacheScope.track(
          planted(1000000000L, 0.001f).unionByName(planted(2000000000L, 0.002f)).cache())
        val grown = graft.index.Hnsw
          .insert(layers, batch, k = HnswDegree, beam = 64, rounds = 8)
        val layer0 = grown.last
        import s.implicits._
        val pairEdges = (0 until 10)
          .flatMap(i =>
            Seq(
              (1000000000L + i, 2000000000L + i),
              (2000000000L + i, 1000000000L + i)))
          .toDF("src", "dst")
        def misses(g: DataFrame) = pairEdges
          .join(g.select("src", "dst"), Seq("src", "dst"), "left_anti")
          .agg(count(lit(1)).as("n"))
        val before = misses(layer0.graph)
          .select(when(col("n") === 20, 1L).otherwise(0L).as("unlinked_before_ok"))
        val refined = graft.CacheScope.track(
          graft.index.KnnJoin
            .nnDescentRound(layer0.graph, layer0.nodes, HnswDegree)
            .cache())
        val after = misses(refined)
          .select(when(col("n") === 0, 1L).otherwise(0L).as("recovered_ok"))
        val degree = refined
          .groupBy("src").agg(count(lit(1)).as("n"))
          .agg(max("n").as("mx"))
          .select(when(col("mx") <= HnswDegree, 1L).otherwise(0L).as("degree_ok"))
        batch.agg((count(lit(1)) / 2).cast("long").as("n_pairs"))
          .crossJoin(before)
          .crossJoin(after)
          .crossJoin(degree)
      },
      Some(
        "SELECT CAST(10 AS BIGINT) AS n_pairs, CAST(1 AS BIGINT) AS unlinked_before_ok, " +
          "CAST(1 AS BIGINT) AS recovered_ok, CAST(1 AS BIGINT) AS degree_ok")),

    // Streaming HNSW INGEST (streaming/StreamingOps.hnswIngest — s02's
    // stream→index→search contract for the graph family, closing the
    // last streaming/batch asymmetry: the IVF index has had streamed
    // ingest since round 7, the layer stack now shares the same
    // foreachBatch shape reusing Hnsw.insert verbatim). Ten planted
    // near-duplicates stream in ONE micro-batch; flags certify (a)
    // found_self — every planted row is its own rank-1 hit through the
    // full hierarchical search on the streamed-into stack (s02's
    // contract). One batch is deliberate (VERDICT r16): each insert is
    // a job-count constant at the local launch floor, and the
    // CROSS-batch-boundary growth fact is separately pinned in
    // StreamingSpec's two-batch ingest case. The stream ≡ batch
    // structural-equality arm that ran here through round 17 moved to
    // StreamingSpec outright (VERDICT r17 #6: it re-certified a fact
    // the spec already pins, at ~8 s of launch floor per record —
    // s22/s23 now cover the streaming-mutation family's new ground
    // instead).
    // Restart recovery is s21's job. Per micro-batch the work is
    // |batch| stack walks + bounded repairs; state per epoch is the
    // lineage-truncated layer set, so unbounded streams stay
    // micro-batch priced.
    NamedQuery(
      "s20_streaming_hnsw_ingest",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val nodes = t(s, dir, "embeddings").select("vec_id", "embedding")
        val layers = stackFor(s, dir)
        val planted: Array[(Long, Seq[Float])] = nodes
          .filter(col("vec_id") < 10)
          .select(
            (col("vec_id") + 600000L).as("vec_id"),
            transform(
              col("embedding"),
              (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.001f)).otherwise(lit(-0.001f)))
              .as("embedding"))
          .as[(Long, Seq[Float])].collect()
        val source = MemoryStream[(Long, Seq[Float])]
        val stream = source.toDF().toDF("vec_id", "embedding")
        val finalStack = new java.util.concurrent.atomic
          .AtomicReference[Seq[graft.index.Hnsw.Layer]](layers)
        val ckptDir = java.nio.file.Files.createTempDirectory("s20_hnsw_ingest")
        val query = graft.streaming.StreamingOps.hnswIngest(
          stream, layers, ckptDir.toString,
          k = HnswDegree, beam = 64, rounds = 8, finalStack.set)
        try {
          source.addData(planted.toSeq)
          query.processAllAvailable()
        } finally {
          query.stop()
          deleteRecursively(ckptDir)
        }
        val streamed = finalStack.get()
        val probes = planted.toSeq.toDF("query_id", "qvec")
        val foundSelf = graft.index.Hnsw
          .search(probes, streamed, k = 3, beam = 64, rounds = 8)
          .filter(col("rnk") === 1)
          .agg(
            count(lit(1)).as("n1"),
            sum(when(col("query_id") === col("vec_id"), 1L).otherwise(0L)).as("hits"))
          .select(
            when(col("n1") === 10 && col("hits") === 10, 1L).otherwise(0L).as("found_self_ok"))
        planted.toSeq.toDF("vec_id", "embedding").agg(count(lit(1)).as("n_streamed"))
          .crossJoin(foundSelf)
      },
      Some(
        "SELECT CAST(10 AS BIGINT) AS n_streamed, CAST(1 AS BIGINT) AS found_self_ok")),

    // Streaming HNSW ingest RESTART RECOVERY (s19's kill-and-resume
    // certification for the graph family, closing hnswIngest's
    // documented-but-uncertified RESTART contract): batch A streams
    // into the stack through hnswIngest with `onUpdate` persisting
    // every epoch via Hnsw.save (the durability hook the doc
    // prescribes); the stream is STOPPED — the process-death stand-in,
    // s19's technique — and a NEW incarnation starts from the SAME
    // checkpoint with Hnsw.loadStack's layers as `initial` and the
    // loaded meta's own shrink/topCap (the save-carries-its-build-
    // parameters contract, end-to-end); batch B streams into the
    // resumed incarnation. Round-20 cost cut (the s22/s23 pattern,
    // VERDICT r19 task 2 — this row was the suite's slowest at
    // 27.7 s): the base is the SMALL deep lifecycle stack, not the
    // full corpus (recovery semantics need a deep stack and a restart,
    // not a big corpus — each per-epoch Hnsw.save was rewriting the
    // corpus-sized stack), and the uninterrupted-continuation control
    // (a second full insert + per-layer exceptAll equalities) moved to
    // StreamingSpec ("hnswIngest resumes from a SAVED artifact…").
    // The registered row keeps the operator's own recovery flags:
    // meta_ok — the persisted parameters round-tripped
    // (k/shrink/topCap); recovered_members_ok — layer-0 membership
    // after the resumed incarnation is the base set + all 10 planted
    // rows exactly once (the kill lost nothing, the replay-guard
    // double-applied nothing, batch B landed); found_self_ok — all 10
    // planted rows, BOTH batches, are their own rank-1 hits through
    // the resumed stack.
    NamedQuery(
      "s21_hnsw_restart_recovery",
      (s, dir) => {
        import s.implicits._
        val built = smallStackFor(s, dir)
        val baseN = built.last.nodes.count()
        val planted: Array[(Long, Seq[Float])] = built.last.nodes
          .filter(col("vec_id") < 10)
          .select(
            (col("vec_id") + 700000L).as("vec_id"),
            transform(
              col("embedding"),
              (x, i) => x + when(pmod(i, lit(2)) === 0, lit(0.001f)).otherwise(lit(-0.001f)))
              .as("embedding"))
          .as[(Long, Seq[Float])].collect()
        val (a, b) = planted.splitAt(5)
        def toDf(rows: Array[(Long, Seq[Float])]) = rows.toSeq.toDF("vec_id", "embedding")
        val tmp = java.nio.file.Files.createTempDirectory("s21_hnsw_restart")
        val inDir = s"$tmp/in"
        val ckpt = s"$tmp/ckpt"
        val saveDir = s"$tmp/stack"
        val batchSchema = toDf(a).schema
        def incarnation(
            initial: Seq[graft.index.Hnsw.Layer],
            shrink: Int,
            topCap: Long,
            onUpdate: Seq[graft.index.Hnsw.Layer] => Unit): Unit = {
          val q = graft.streaming.StreamingOps.hnswIngest(
            s.readStream.schema(batchSchema).parquet(inDir),
            initial, ckpt, k = HnswDegree, beam = 32, rounds = 4, onUpdate,
            shrink = shrink, topCap = topCap)
          try q.processAllAvailable()
          finally q.stop()
        }
        // 8-way shuffles for the whole kill/resume section (the s05/s06
        // streaming discipline): every job in here — per-epoch inserts,
        // saves, loadStack — moves 400-node frames, where a 32-way
        // exchange is pure task-launch overhead
        val (fin, metaOk) = withShufflePartitions(s, 8) {
          try {
            // incarnation 1: ingest batch A, persist every epoch
            val live = new java.util.concurrent.atomic
              .AtomicReference[Seq[graft.index.Hnsw.Layer]](built)
            toDf(a).write.mode("append").parquet(inDir)
            incarnation(built, SmallShrink, SmallTopCap, st => {
              live.set(st)
              graft.index.Hnsw.save(
                st, HnswDegree, saveDir, shrink = SmallShrink, topCap = SmallTopCap)
            })
            // "kill": q1 is stopped. Resume from the checkpoint with the
            // PERSISTED stack (a fresh consumer would have only this)
            val loaded = graft.index.Hnsw.loadStack(s, saveDir)
            val resumed = new java.util.concurrent.atomic
              .AtomicReference[Seq[graft.index.Hnsw.Layer]](loaded.layers)
            toDf(b).write.mode("append").parquet(inDir)
            incarnation(loaded.layers, loaded.shrink, loaded.topCap, resumed.set)
            // the resumed layers are LAZY compositions over the saved
            // artifact's files (insert's batch-priced contract since
            // round 21) — pin them before the temp log dir dies below
            (resumed.get().map(l => graft.index.Hnsw.Layer(
              l.nodes.localCheckpoint(), l.graph.localCheckpoint())),
              loaded.k == HnswDegree && loaded.shrink == SmallShrink &&
                loaded.topCap == SmallTopCap)
          } finally deleteRecursively(tmp)
        }
        val members = fin.last.nodes
          .agg(
            count(lit(1)).as("n"),
            // exactly-once across the kill: distinct planted ids AND total
            // planted rows must both be 10 — a double-applied replay shows
            // up as n_planted 11+ even when the distinct count stays 10
            countDistinct(when(col("vec_id") >= 700000L, col("vec_id"))).as("n_planted_ids"),
            sum(when(col("vec_id") >= 700000L, 1L).otherwise(0L)).as("n_planted"))
          .select(
            when(col("n") === baseN + 10 && col("n_planted") === 10 && col("n_planted_ids") === 10, 1L)
              .otherwise(0L).as("recovered_members_ok"))
        val probes = planted.toSeq.toDF("query_id", "qvec")
        val foundSelf = graft.index.Hnsw
          .search(probes, fin, k = 3, beam = 32, rounds = 4)
          .filter(col("rnk") === 1)
          .agg(
            count(lit(1)).as("n1"),
            sum(when(col("query_id") === col("vec_id"), 1L).otherwise(0L)).as("hits"))
          .select(
            when(col("n1") === 10 && col("hits") === 10, 1L).otherwise(0L).as("found_self_ok"))
        planted.toSeq.toDF("vec_id", "embedding").agg(count(lit(1)).as("n_streamed"))
          .select(col("n_streamed"), lit(if (metaOk) 1L else 0L).as("meta_ok"))
          .crossJoin(members)
          .crossJoin(foundSelf)
      },
      Some(
        "SELECT CAST(10 AS BIGINT) AS n_streamed, CAST(1 AS BIGINT) AS meta_ok, " +
          "CAST(1 AS BIGINT) AS recovered_members_ok, CAST(1 AS BIGINT) AS found_self_ok")),

    // Streaming CDC into the HNSW stack (streaming/StreamingOps
    // .hnswApplyChangelog — the round-17 verdict's #1 gap: an
    // insert-only ingest cannot serve GDPR-style erasure or rolling
    // TTL; a production vector index needs deletes arriving on the
    // SAME stream as the upserts that may re-use their keys). One
    // changelog stream (s08's upsert+delete contract, Merge
    // .applyChangelog's exact last-change-per-key rule) drives the
    // shared small deep stack with the delta log on: ONE trigger
    // exercises every changelog verb at once — replacement upserts of
    // two live corpus keys, upserts of two NEW keys, erasure of two
    // live corpus keys, a delete of an unknown key (O9's no-op,
    // dropped at the screen for zero cost), and an equal-key U-then-D
    // pair whose higher ord must win (the insert never lands). Flags:
    // epochs_ok (exactly ONE composed epoch — Hnsw.composeDeltas
    // folded the trigger's delete+insert into one fenced epoch keyed
    // by the stable batchId); replay_nodes_ok (loadLog reproduces the
    // live stack's per-layer MEMBERSHIP — the composed epoch is
    // durable: a fresh consumer would recover this state); erased_ok /
    // replaced_ok / inserted_ok (membership facts on layer 0: erased
    // keys gone, replaced keys present exactly once with the NEW
    // vector, new keys landed). Round-19 cost cut (the s20 fold,
    // VERDICT r18 task 3): the two-trigger kill/restart recovery, the
    // batch-composition control, and the edge-level layer equalities
    // moved to StreamingSpec ("changelog stream equals the batch
    // composition…" and the replay-guard test) — the registered row
    // re-certified that integration machinery on every bench pass for
    // ~55 s of suite cost; it keeps the cheap membership/epoch/
    // durability flags of the OPERATOR itself. Cost discipline
    // otherwise unchanged: v44 rules — 3-layer shared stack (no
    // rebuild), beam 32 / 2 rounds (set facts, not walk quality),
    // flags localCheckpoint'd before the temp dirs die.
    NamedQuery(
      "s22_hnsw_changelog_stream",
      (s, dir) => {
        import s.implicits._
        val built = smallStackFor(s, dir)
        val nodes = built.last.nodes
        val byId: Map[Long, Seq[Float]] = nodes
          .filter(col("vec_id") < 40)
          .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
          .collect().toMap
        def bump(e: Seq[Float], d: Float): Seq[Float] = e.map(_ + d)
        val batch: Seq[(Long, Seq[Float], String, Long)] = Seq(
          (30L, bump(byId(30L), 0.002f), "U", 1L),
          (31L, bump(byId(31L), 0.002f), "U", 2L),
          (770000L, bump(byId(0L), 0.001f), "U", 3L),
          (770001L, bump(byId(1L), 0.001f), "U", 4L),
          (5L, byId(5L), "D", 5L),
          (6L, byId(6L), "D", 6L),
          (9999999L, byId(2L), "D", 7L),
          (770002L, bump(byId(2L), 0.003f), "U", 8L),
          (770002L, bump(byId(2L), 0.003f), "D", 9L))
        val tmp = java.nio.file.Files.createTempDirectory("s22_hnsw_cdc")
        try {
          val inDir = s"$tmp/in"
          val ckpt = s"$tmp/ckpt"
          val logPath = s"$tmp/log"
          graft.index.Hnsw.save(
            built, HnswDegree, logPath, shrink = SmallShrink, topCap = SmallTopCap)
          def toDf(rows: Seq[(Long, Seq[Float], String, Long)]) =
            rows.toDF("vec_id", "embedding", "op", "ord")
          val tok0 = graft.index.Hnsw.loadStack(s, logPath).writerToken
          val live = new java.util.concurrent.atomic
            .AtomicReference[Seq[graft.index.Hnsw.Layer]](built)
          // the source dir must exist before the stream starts
          toDf(batch).write.mode("append").parquet(inDir)
          val q = graft.streaming.StreamingOps.hnswApplyChangelog(
            s.readStream.schema(toDf(batch).schema).parquet(inDir),
            built, ckpt, k = HnswDegree, beam = 32, rounds = 2,
            onUpdate = live.set,
            shrink = SmallShrink, topCap = SmallTopCap,
            onDelta = Some((id, d) => graft.index.Hnsw.saveDelta(d, id, logPath, tok0)),
            // the replay guard every durable changelog writer passes:
            // a re-delivered batch whose epoch already published is
            // skipped, never re-applied (the erasure-resurrection
            // story in hnswApplyChangelog's doc; spec-pinned)
            isEpochApplied = Some(id => graft.index.Hnsw.epochExists(s, logPath, id)))
          val fin =
            try { q.processAllAvailable(); live.get() } finally q.stop()
          val epochNames = new java.io.File(logPath)
            .listFiles().map(_.getName).filter(_.startsWith("epoch_")).sorted
          val epochsOk = epochNames.sameElements(Array("epoch_000000000000"))
          // per-layer MEMBERSHIP equality of the log's fold vs the live
          // stack (node sets are ≤ ~410 rows/layer — one cheap action;
          // the edge-level equality is spec-pinned)
          val replayed = graft.index.Hnsw.loadLog(s, logPath).layers
          val replay =
            if (replayed.length != fin.length) s.range(1).select(lit(0L).as("replay_nodes_ok"))
            else replayed.zip(fin).map { case (a, b) =>
              val na = a.nodes.select("vec_id")
              val nb = b.nodes.select("vec_id")
              na.exceptAll(nb).unionAll(nb.exceptAll(na))
            }.reduce(_.unionAll(_))
              .agg(count(lit(1)).as("bad"))
              .select(when(col("bad") === 0, 1L).otherwise(0L).as("replay_nodes_ok"))
          val l0 = fin.last.nodes
          val erased = l0
            .filter(col("vec_id").isin(5L, 6L, 770002L))
            .agg(count(lit(1)).as("n"))
            .select(when(col("n") === 0, 1L).otherwise(0L).as("erased_ok"))
          val expected = Seq(
            (30L, bump(byId(30L), 0.002f)), (31L, bump(byId(31L), 0.002f)))
            .toDF("vec_id", "exp_emb")
          val replaced = l0.join(expected, Seq("vec_id"))
            .agg(
              count(lit(1)).as("n"),
              sum(when(col("embedding") === col("exp_emb"), 1L).otherwise(0L)).as("m"))
            .select(
              when(col("n") === 2 && col("m") === 2, 1L).otherwise(0L).as("replaced_ok"))
          val inserted = l0
            .filter(col("vec_id").isin(770000L, 770001L))
            .agg(count(lit(1)).as("n"))
            .select(when(col("n") === 2, 1L).otherwise(0L).as("inserted_ok"))
          // materialize BEFORE the temp dirs die (the flag plans read
          // the log's parquet); the driver acts on the result later
          toDf(batch).agg(count(lit(1)).as("n_changes"))
            .select(col("n_changes"), lit(if (epochsOk) 1L else 0L).as("epochs_ok"))
            .crossJoin(replay)
            .crossJoin(erased)
            .crossJoin(replaced)
            .crossJoin(inserted)
            .localCheckpoint()
        } finally deleteRecursively(tmp)
      },
      Some(
        "SELECT CAST(9 AS BIGINT) AS n_changes, CAST(1 AS BIGINT) AS epochs_ok, " +
          "CAST(1 AS BIGINT) AS replay_nodes_ok, " +
          "CAST(1 AS BIGINT) AS erased_ok, CAST(1 AS BIGINT) AS replaced_ok, " +
          "CAST(1 AS BIGINT) AS inserted_ok")),

    // SELF-DRIVING HNSW maintenance (streaming/StreamingOps.hnswIngest's
    // maintainEvery/autoDeepen — s07's adaptive-maintain shape for the
    // graph family, the round-17 verdict's #2 gap: the wear-out
    // trajectory was certified but only as MANUAL calls, v41/v42). The
    // LOAD decides the cadence inside the ingest loop: the topCap
    // warning's own condition (Hnsw.warnIfTopOversized's bound) becomes
    // the deepen TRIGGER, and every `maintainEvery` applied batches one
    // NN-descent round recovers the intra-batch edges insert defers.
    // Two micro-batches over a TWO-LAYER SLICE of the shared small
    // stack (built.tail — top = the corpus's mod-2 level set, a valid
    // stack under the same hash level rule; round-19 cost cut: every
    // per-layer job in insert/descent/deepen scales with depth, and
    // the 3-layer original priced the row at 26.7 s), topCap pinned to
    // the slice's own top size so growth trips the bound
    // deterministically: batch 1 inserts 12 planted rows of which a
    // fixed hash-deterministic subset lands in the mod-2 top -> top >
    // topCap -> deepen fires IN-STREAM at batch 0; batch 2 trips the
    // every-2-batches descent at batch 1 and must NOT re-deepen (the
    // rebuilt mod-4 top is ~half the bound). Flags: exactly one deepen
    // tick at batch 0 and one descent tick at batch 1 (fired_ok),
    // final depth = base + 1 (depth_ok), final top back inside the
    // bound (top_bounded_ok), and the new top's member set EQUALS the
    // hash level rule at mod shrink^2 over the FINAL corpus (rule_ok —
    // in-stream deepen + post-deepen level routing compose to exactly
    // what a from-scratch build one level deeper would place).
    // Round-19 cost cut (VERDICT r18 task 3): the found-self search
    // through the maintained stack moved to StreamingSpec's
    // maintained-ingest test — a multi-layer descend-and-walk re-run on
    // every bench pass priced the row at 26.7 s for a spec-shaped
    // quality fact; the row keeps the cadence/depth/bound/rule flags
    // that certify the OPERATOR's behavior.
    NamedQuery(
      "s23_hnsw_auto_maintain",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val built = smallStackFor(s, dir).tail
        val topN0 = built.head.nodes.count()
        val planted: Array[(Long, Seq[Float])] = built.last.nodes
          .filter(col("vec_id") < 24)
          .select(
            (col("vec_id") + 730000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
          .as[(Long, Seq[Float])].collect().sortBy(_._1)
        val (b1, b2) = planted.splitAt(12)
        val ticks = scala.collection.mutable.ArrayBuffer
          .empty[graft.streaming.StreamingOps.HnswMaintainTick]
        val source = MemoryStream[(Long, Seq[Float])]
        val stream = source.toDF().toDF("vec_id", "embedding")
        val finalStack = new java.util.concurrent.atomic
          .AtomicReference[Seq[graft.index.Hnsw.Layer]](built)
        val ckptDir = java.nio.file.Files.createTempDirectory("s23_hnsw_maint")
        val query = graft.streaming.StreamingOps.hnswIngest(
          stream, built, ckptDir.toString,
          k = HnswDegree, beam = 32, rounds = 2, finalStack.set,
          shrink = SmallShrink, topCap = topN0,
          maintainEvery = 2, autoDeepen = true, onMaintain = ticks += _)
        try {
          source.addData(b1.toSeq)
          query.processAllAvailable()
          source.addData(b2.toSeq)
          query.processAllAvailable()
        } finally {
          query.stop()
          deleteRecursively(ckptDir)
        }
        val fin = finalStack.get()
        val firedOk = ticks.toSeq.map(t => (t.event, t.batch_id)) ==
          Seq(("deepen", 0L), ("descent", 1L))
        val depthOk = fin.length == built.length + 1
        val topBoundedOk = fin.head.nodes.count() <= topN0
        var mod = 1L
        (0 until fin.length - 1).foreach(_ => mod *= SmallShrink)
        val want = fin.last.nodes.select("vec_id")
          .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
        val have = fin.head.nodes.select("vec_id")
        val rule = have.exceptAll(want).unionAll(want.exceptAll(have))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("rule_ok"))
        planted.toSeq.toDF("vec_id", "embedding").agg(count(lit(1)).as("n_streamed"))
          .select(
            col("n_streamed"),
            lit(if (firedOk) 1L else 0L).as("fired_ok"),
            lit(if (depthOk) 1L else 0L).as("depth_ok"),
            lit(if (topBoundedOk) 1L else 0L).as("top_bounded_ok"))
          .crossJoin(rule)
      },
      Some(
        "SELECT CAST(24 AS BIGINT) AS n_streamed, CAST(1 AS BIGINT) AS fired_ok, " +
          "CAST(1 AS BIGINT) AS depth_ok, CAST(1 AS BIGINT) AS top_bounded_ok, " +
          "CAST(1 AS BIGINT) AS rule_ok")),

    // HNSW DEEPEN (index/Hnsw.deepen — the maintenance move the new
    // topCap warnings point at: when insert batches have grown the top
    // layer past its broadcast bound, ONE new layer above the current
    // top — members by the same hash level rule at the next modulus,
    // exact k-NN graph over that metadata-sized set — restores the
    // bound without touching any lower layer; a from-scratch rebuild
    // one level deeper would route the same member sets, so nesting
    // and determinism are preserved by construction). Runs over a
    // FIXED-frontier corpus (vec_id < 1600 — bounded at every sf, the
    // p16 pattern) with shrink 2 so the stack is deep and the new
    // top's expected occupancy (~n_top/2) is never hash-empty at any
    // fixture size. Flags: depth grew by exactly one; the new top's
    // member set EQUALS the level rule over the corpus at the next
    // modulus (rule_ok — rebuild-equivalent placement); the new top is
    // non-empty and strictly smaller than the old one (shrunk_ok); its
    // graph holds the degree budget; and 10 member probes through the
    // DEEPENED stack clear the recall bar (search_ok — the extra
    // routing hop loses nothing).
    NamedQuery(
      "v42_hnsw_deepen",
      (s, dir) => {
        val nodes = graft.CacheScope.track(
          t(s, dir, "embeddings")
            .select("vec_id", "embedding")
            .filter(col("vec_id") < 1600)
            .cache())
        val shrink = 2
        // topCap 100 bounds the stack to ≤5 layers at the 1600-node cap
        // (the descent's job count, not data, is this query's cost — the
        // first cut at topCap 30 walked 7 layers for 36 s of pure
        // job-launch floor; same flags, half the layers)
        val built = graft.index.Hnsw
          .build(nodes, k = HnswDegree, shrink = shrink, topCap = 100L)
          .map(l => graft.index.Hnsw.Layer(
            l.nodes, graft.CacheScope.track(l.graph.cache())))
        val deepened = graft.index.Hnsw.deepen(built, k = HnswDegree, shrink = shrink)
        var mod = 1L
        (0 until deepened.length - 1).foreach(_ => mod *= shrink)
        val want = nodes.select("vec_id")
          .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
        val have = deepened.head.nodes.select("vec_id")
        val rule = have.exceptAll(want).unionAll(want.exceptAll(have))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("rule_ok"))
        val oldN = built.head.nodes.count()
        val newN = deepened.head.nodes.count()
        val degree = deepened.head.graph
          .groupBy("src").agg(count(lit(1)).as("n"))
          .agg(coalesce(max("n"), lit(0L)).as("mx"))
          .select(when(col("mx") <= HnswDegree, 1L).otherwise(0L).as("degree_ok"))
        val probes = nodes.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val got = graft.index.Hnsw.search(probes, deepened, k = 10, beam = 64, rounds = 6)
        val rec = IvfSearch
          .recallAtK(
            got.select("query_id", "vec_id"),
            graft.index.KnnJoin.exact(probes, nodes, 10),
            10, probes)
          .agg(avg("recall").as("m"))
          .select(when(col("m") >= 0.85, 1L).otherwise(0L).as("search_ok"))
        nodes.agg(count(lit(1)).as("n_nodes"))
          .select(
            lit(if (deepened.length == built.length + 1) 1L else 0L).as("depth_ok"),
            lit(if (newN > 0L && newN < oldN) 1L else 0L).as("shrunk_ok"))
          .crossJoin(rule)
          .crossJoin(degree)
          .crossJoin(rec)
      },
      Some(
        "SELECT CAST(1 AS BIGINT) AS depth_ok, CAST(1 AS BIGINT) AS shrunk_ok, " +
          "CAST(1 AS BIGINT) AS rule_ok, CAST(1 AS BIGINT) AS degree_ok, " +
          "CAST(1 AS BIGINT) AS search_ok")),

    // HNSW stack HEALTH introspection (v28's index-stats shape for the
    // graph family — the invariants an ops team alerts on before a
    // degraded index degrades a product, emitted as bound flags over
    // the session stack):
    //  - layers_ok: the hierarchy actually engaged (≥ 2 layers);
    //  - top_ok: the top layer is inside its topCap broadcast contract
    //    (Hnsw.scala's warnIfTopOversized bound, here as a hard flag —
    //    the erosion signal the deepen maintenance move answers);
    //  - rule_ok: every layer's member set EQUALS the deterministic
    //    level rule over the corpus at that layer's modulus (both
    //    exceptAll directions empty) — placement integrity, the
    //    invariant every descend and every mutation relies on;
    //  - geom_ok: layer sizes shrink at least shrink/2 per level
    //    wherever the lower layer is big enough for the hash law to
    //    concentrate (n ≥ 1024) — the "hierarchy is actually geometric"
    //    law (expected factor = shrink; half that is a 4σ-plus alarm);
    //  - degree_max_ok: no node anywhere exceeds the build degree k
    //    (a repair/refine that overshoots k breaks the walk's
    //    per-hop cost bound);
    //  - degree_mean_ok: every layer with enough members (> 2(k+1))
    //    has mean out-degree ≥ 0.75k — the round-15 edgeless-husk
    //    regression (full-corpus-model upper builds starved the
    //    closure semi-join to mean ~0.5 ON k=8) trips this loudly;
    //  - endpoint_ok: every edge endpoint is a member of its own
    //    layer (no dangling/foreign ids after any mutation history).
    // All integer/set facts — deterministic given the fixture, so the
    // oracle states the expected flag row (v06 technique).
    NamedQuery(
      "v43_hnsw_stack_stats",
      (s, dir) => {
        val layers = stackFor(s, dir)
        val k = HnswDegree
        val shrink = 16
        val topCap = 256L
        val corpus = t(s, dir, "embeddings").select("vec_id")
        val L = layers.length
        val sizes = layers.map(_.nodes.count())
        val ruleOk = layers.zipWithIndex.map { case (l, p) =>
          var mod = 1L
          (0 until (L - 1 - p)).foreach(_ => mod *= shrink)
          val want = corpus.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
          val have = l.nodes.select("vec_id")
          have.exceptAll(want).unionAll(want.exceptAll(have))
        }.reduce(_.unionAll(_))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("rule_ok"))
        val geomOk = sizes.sliding(2).forall {
          case Seq(upper, lower) => lower < 1024L || upper <= lower / (shrink / 2)
          case _                 => true
        }
        // honest mean degree = |edges| / n_nodes (zero-out-degree nodes
        // don't appear in a groupBy over src, so avg-over-sources lies
        // exactly in the husk scenario this flag exists to catch)
        val meanOk = layers.zip(sizes).map { case (l, n) =>
          val edges = l.graph.count().toDouble
          n <= 2L * (k + 1) || edges / n >= 0.75 * k
        }.forall(identity)
        val maxOk = layers.map(
          _.graph.groupBy("src").agg(count(lit(1)).as("n")).agg(coalesce(max("n"), lit(0L)).as("mx")))
          .reduce(_.unionAll(_))
          .agg(max("mx").as("m"))
          .select(when(col("m") <= k, 1L).otherwise(0L).as("degree_max_ok"))
        val endpointOk = layers.map { l =>
          l.graph.select(col("src").as("vec_id"))
            .unionAll(l.graph.select(col("dst").as("vec_id")))
            .join(l.nodes.select("vec_id"), Seq("vec_id"), "left_anti")
        }.reduce(_.unionAll(_))
          .agg(count(lit(1)).as("bad"))
          .select(when(col("bad") === 0, 1L).otherwise(0L).as("endpoint_ok"))
        ruleOk
          .crossJoin(maxOk)
          .crossJoin(endpointOk)
          .select(
            lit(if (L >= 2) 1L else 0L).as("layers_ok"),
            lit(if (sizes.head <= topCap) 1L else 0L).as("top_ok"),
            col("rule_ok"),
            lit(if (geomOk) 1L else 0L).as("geom_ok"),
            col("degree_max_ok"),
            lit(if (meanOk) 1L else 0L).as("degree_mean_ok"),
            col("endpoint_ok"))
      },
      Some(
        "SELECT CAST(1 AS BIGINT) AS layers_ok, CAST(1 AS BIGINT) AS top_ok, " +
          "CAST(1 AS BIGINT) AS rule_ok, CAST(1 AS BIGINT) AS geom_ok, " +
          "CAST(1 AS BIGINT) AS degree_max_ok, CAST(1 AS BIGINT) AS degree_mean_ok, " +
          "CAST(1 AS BIGINT) AS endpoint_ok")),

    // HNSW delta-LOG persistence (index/Hnsw.saveDelta/loadLog/compact
    // — batch-sized durability for streaming ingest: a full Hnsw.save
    // per epoch re-writes the corpus-sized stack every trigger, while
    // one log epoch writes only the mutation's own O(|batch|·k) changed
    // rows — new nodes, attach edges, touched-neighborhood repairs —
    // keyed by the stable streaming batchId so an epoch RETRY
    // re-publishes the same dir idempotently via a tmp-dir rename;
    // compaction folds pending epochs into a fresh base behind a
    // crash-safe `compacted_through` watermark, the LSM discipline).
    // Runs over a FIXED-frontier corpus (vec_id < 1600, shrink 2 — the
    // v42 pattern), so the query's cost is bounded at every sf while
    // the boundedness flag stays structural. Flags: bounded_ok (the
    // insert epoch's layer-0 upserts touch ≤ |batch|·(k+1) srcs — the
    // durability write IS batch-sized, the whole point); log_ok (base +
    // two epochs — one insert, one delete incl. an unknown-id no-op —
    // replays layer-equal to the live mutated stack, nodes AND edges,
    // both exceptAll directions); retry_ok (re-publishing a pending
    // epoch changes nothing); compact_ok (compaction preserves the
    // persisted build params, equals the live stack, clears every epoch
    // dir, and a post-compact loadLog still equals — the watermark
    // skips nothing and double-applies nothing). Cost discipline: every
    // flag here is a SET equality or count bound — none depends on walk
    // quality — so the stack is kept to 3 layers (frontier 400, topCap
    // 100) and the insert walk to beam 32 / 2 rounds, and each
    // certifying equality is evaluated ONCE at the step where it is
    // strongest: after the epoch RETRY (one check certifies replay AND
    // idempotence — if either broke, it fails) and on the post-compact
    // RELOAD (reading the rewritten base files subsumes the in-memory
    // compact result). The first cut — 5 layers × 8 rounds × 4 separate
    // equality evaluations — measured 63 s of pure job-launch plumbing
    // for identical flags; deep-stack mutation semantics stay pinned by
    // v38/v39/v42 and HnswSpec.
    NamedQuery(
      "v44_hnsw_delta_log",
      (s, dir) => {
        import s.implicits._
        // one build for the whole lifecycle family (v44/s22/s23) — the
        // VERDICT r17 #6 consolidation; the shared base is read-only
        val built = smallStackFor(s, dir)
        val nodes = built.last.nodes
        val shrink = SmallShrink
        // ONE exceptAll pair over the layer-TAGGED union of every
        // layer's node and graph rows, instead of 4 exceptAll branches
        // per layer (12 for the 3-layer stack — each a 2-exchange
        // subtree, ~30 exchange jobs per flag at the launch floor):
        // per-layer multiset equality ≡ multiset equality of the tagged
        // unions (the layer column keys rows to their layer; node rows
        // ride as rnk = 0, below any graph rnk ≥ 1, so the two row
        // kinds can never cancel each other).
        def eqFlag(
            a: Seq[graft.index.Hnsw.Layer],
            b: Seq[graft.index.Hnsw.Layer],
            name: String): org.apache.spark.sql.DataFrame =
          if (a.length != b.length) s.range(1).select(lit(0L).as(name))
          else {
            def tagged(ls: Seq[graft.index.Hnsw.Layer]) = ls.zipWithIndex.map {
              case (l, i) =>
                l.nodes.select(
                  lit(i).as("layer"),
                  col("vec_id").as("src"), col("vec_id").as("dst"), lit(0).as("rnk"))
                  .unionAll(l.graph.select(
                    lit(i).as("layer"), col("src"), col("dst"), col("rnk")))
            }.reduce(_.unionAll(_))
            val ta = tagged(a)
            val tb = tagged(b)
            ta.exceptAll(tb).unionAll(tb.exceptAll(ta))
              .agg(count(lit(1)).as("bad"))
              .select(when(col("bad") === 0, 1L).otherwise(0L).as(name))
          }
        val tmp = java.nio.file.Files.createTempDirectory("v44_hnsw_log")
        try {
          val logPath = tmp.toString
          graft.index.Hnsw.save(built, HnswDegree, logPath, shrink = shrink, topCap = SmallTopCap)
          // the writer's fence token, as a real streaming writer would
          // capture it (Hnsw.saveDelta checks it against the live meta —
          // the zombie-incarnation guard, adversarially spec-pinned in
          // HnswSpec; here the happy path runs fenced end-to-end)
          val tok = graft.index.Hnsw.loadStack(s, logPath).writerToken
          // epoch 0: insert 10 planted near-duplicates
          val batch = nodes.filter(col("vec_id") < 10)
            .select(
              (col("vec_id") + 720000L).as("vec_id"),
              transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
          val (afterIns, dIns) = graft.index.Hnsw.insertWithDelta(
            built, batch, k = HnswDegree, beam = 32, rounds = 2,
            shrink = shrink, topCap = SmallTopCap)
          graft.index.Hnsw.saveDelta(dIns, 0L, logPath, tok)
          val boundedOk =
            dIns.last.graphUpserts.select("src").distinct().count() <= 10L * (HnswDegree + 1)
          // epoch 1: delete five members and one unknown id (O9's no-op)
          val delIds = Seq(20L, 21L, 22L, 23L, 24L, 9999999L).toDF("vec_id")
          val (afterDel, dDel) =
            graft.index.Hnsw.deleteWithDelta(afterIns, delIds, HnswDegree)
          graft.index.Hnsw.saveDelta(dDel, 1L, logPath, tok)
          // flags are materialized AT THEIR STEP (localCheckpoint): the
          // next step mutates the very files the lazy plan would read
          // (compact deletes epoch dirs the loadLog plan scans)
          graft.index.Hnsw.saveDelta(dIns, 0L, logPath, tok)
          val logRetryOk =
            eqFlag(graft.index.Hnsw.loadLog(s, logPath).layers, afterDel, "log_retry_ok")
              .localCheckpoint()
          val compacted = graft.index.Hnsw.compact(s, logPath)
          val noEpochs = !new java.io.File(logPath)
            .listFiles().map(_.getName).exists(_.startsWith("epoch_"))
          // compact must carry the build params forward AND advance the
          // fence (writerToken + 1 — a stale writer is now rejectable)
          val paramsOk = compacted.k == HnswDegree &&
            compacted.shrink == shrink && compacted.topCap == SmallTopCap &&
            compacted.writerToken == tok + 1
          val compactOk = eqFlag(graft.index.Hnsw.loadLog(s, logPath).layers, afterDel, "c2")
            .select(
              when(col("c2") === 1 && lit(noEpochs) && lit(paramsOk), 1L)
                .otherwise(0L).as("compact_ok"))
          // materialize BEFORE the temp log dir is deleted — the flag
          // plans read its parquet; the driver acts on the result later
          batch.agg(count(lit(1)).as("n_inserted"))
            .select(col("n_inserted"), lit(if (boundedOk) 1L else 0L).as("bounded_ok"))
            .crossJoin(logRetryOk)
            .crossJoin(compactOk)
            .localCheckpoint()
        } finally deleteRecursively(tmp)
      },
      Some(
        "SELECT CAST(10 AS BIGINT) AS n_inserted, CAST(1 AS BIGINT) AS bounded_ok, " +
          "CAST(1 AS BIGINT) AS log_retry_ok, CAST(1 AS BIGINT) AS compact_ok")),

    // Compressed-video SCENE-CHANGE detection — the frame-sampling policy
    // real multimodal pipelines run before feature extraction (sample one
    // frame per SCENE, not per fixed stride): each asset deterministically
    // defines a multi-scene animation (scene length 3-5 frames, scene
    // fill levels alternating between a low and a high band ≥ 89 levels
    // apart, ≤ 2 levels of intra-scene jitter), executors ENCODE it
    // through the real multi-frame GIF89a codec (m01's path), decode
    // every frame back, and detect boundaries where the exact decoded
    // frame mean jumps by > 50 — then gaps-and-islands (cumulative
    // boundary count) turns boundaries into segment rows. The 2-entry
    // indexed palette keeps decoded means integer-exact, so DuckDB
    // replays the construction arithmetic and the segmentation windows
    // without touching a codec: hash-green certifies the codec round-trip
    // AND the detector end-to-end. Per-frame work is row-local
    // mapPartitions (the libavcodec slot); the windows partition by
    // asset — nothing global, scales by asset count.
    NamedQuery(
      "m11_scene_segments",
      (s, dir) => {
        val pC = (lit(3) + pmod(col("doc_id"), lit(3))).cast("int")
        val nsC = (lit(3) + pmod(col("doc_id"), lit(2))).cast("int")
        val nfC = (pC * nsC).cast("int")
        def fillOf(f: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val scene = ((f - pmod(f, pC)) / pC).cast("long")
          (lit(40) + lit(120) * pmod(scene, lit(2)) +
            pmod(col("doc_id") * 13 + scene * 7, lit(30)) + pmod(f, lit(3))).cast("int")
        }
        val fills = transform(sequence(lit(0), nfC - 1), fillOf _)
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(
            col("doc_id").as("asset_id"),
            lit(16).as("width"), lit(12).as("height"),
            fills.as("fr_r"), fills.as("fr_g"), fills.as("fr_b"))
        val gif = MultimodalOps.encodeAnimatedGif(spec)
        val frames = MultimodalOps.decodeGifFrames(gif, "asset_id", "content")
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("asset_id").orderBy("frame")
        val wCum = wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        frames
          .filter(col("decoded"))
          // uniform fill ⇒ sum_r / n_px IS the exact fill level
          .withColumn("fill", (col("sum_r") / col("n_px")).cast("long"))
          .withColumn("pf", lag("fill", 1).over(wOrd))
          .withColumn("b",
            when(col("pf").isNull || abs(col("fill") - col("pf")) > 50, 1L).otherwise(0L))
          .withColumn("seg", sum("b").over(wCum) - 1)
          .groupBy("asset_id", "seg")
          .agg(
            min("frame").cast("int").as("start_frame"),
            count(lit(1)).as("n_frames"),
            sum("fill").as("sum_fill"))
          .select(
            col("asset_id"), col("seg").cast("long").as("seg"),
            col("start_frame"), col("n_frames"), col("sum_fill"))
          .orderBy("asset_id", "seg")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS asset_id, 3 + doc_id % 3 AS p, 3 + doc_id % 2 AS ns " +
          "FROM documents WHERE doc_id < 40), " +
          "fr AS (SELECT asset_id, CAST(r.range AS INTEGER) AS frame, " +
          "40 + 120 * ((r.range // p) % 2) + (asset_id * 13 + (r.range // p) * 7) % 30 + r.range % 3 AS fill " +
          "FROM spec, range(0, 20) r WHERE r.range < p * ns), " +
          "fl AS (SELECT asset_id, frame, fill, " +
          "CASE WHEN lag(fill) OVER (PARTITION BY asset_id ORDER BY frame) IS NULL " +
          "OR abs(fill - lag(fill) OVER (PARTITION BY asset_id ORDER BY frame)) > 50 THEN 1 ELSE 0 END AS b " +
          "FROM fr), " +
          "sg AS (SELECT asset_id, frame, fill, " +
          "sum(b) OVER (PARTITION BY asset_id ORDER BY frame ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS seg " +
          "FROM fl) " +
          "SELECT asset_id, CAST(seg AS BIGINT) AS seg, CAST(min(frame) AS INTEGER) AS start_frame, " +
          "CAST(count(*) AS BIGINT) AS n_frames, CAST(sum(fill) AS BIGINT) AS sum_fill " +
          "FROM sg GROUP BY asset_id, seg ORDER BY asset_id, seg")),

    // Recursive CTE, certified — the one classic relational category the
    // inventory had not yet pinned: a fixed-point hierarchy walk
    // (`WITH RECURSIVE`), which Spark 4 executes natively as an iterated
    // UnionLoop (each step one distributed join against the previous
    // frontier — exactly the bounded-iteration shape of p06's star
    // contraction, but declared in SQL). The hierarchy is derived
    // deterministically from the supplier fixture (parent = suppkey div
    // 10, roots = keys < 10 ⇒ a 10-tree forest, depth ≤ 3 at every sf,
    // ~10× fan-out per level — the org-chart/BOM shape). Both engines run
    // the IDENTICAL recursive SQL — integer division spelled per dialect
    // (`div` / `//`) — and aggregate per root: node count, max depth, and
    // balance total in EXACT integer cents (round(bal*100) kills the
    // float representation wobble before the re-associated sum).
    NamedQuery(
      "q46_recursive_hierarchy",
      (s, dir) => {
        val sv = s"q46_supplier_${streamSinkCounter.incrementAndGet()}"
        t(s, dir, "supplier").createOrReplaceTempView(sv)
        try s.sql(
          s"""WITH RECURSIVE walk AS (
             |  SELECT s_suppkey AS node, s_suppkey AS root, 0 AS depth, s_acctbal
             |  FROM $sv WHERE s_suppkey < 10
             |  UNION ALL
             |  SELECT s.s_suppkey, w.root, w.depth + 1, s.s_acctbal
             |  FROM $sv s JOIN walk w ON s.s_suppkey >= 10 AND s.s_suppkey div 10 = w.node
             |)
             |SELECT root, CAST(count(*) AS BIGINT) AS n_nodes,
             |       CAST(max(depth) AS BIGINT) AS max_depth,
             |       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
             |FROM walk GROUP BY root ORDER BY root""".stripMargin)
        finally s.catalog.dropTempView(sv)
      },
      Some(
        "WITH RECURSIVE walk AS (" +
          "SELECT s_suppkey AS node, s_suppkey AS root, 0 AS depth, s_acctbal " +
          "FROM supplier WHERE s_suppkey < 10 " +
          "UNION ALL SELECT s.s_suppkey, w.root, w.depth + 1, s.s_acctbal " +
          "FROM supplier s JOIN walk w ON s.s_suppkey >= 10 AND s.s_suppkey // 10 = w.node) " +
          "SELECT root, CAST(count(*) AS BIGINT) AS n_nodes, " +
          "CAST(max(depth) AS BIGINT) AS max_depth, " +
          "CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents " +
          "FROM walk GROUP BY root ORDER BY root")),

    // Union-of-intervals coverage (Intervals.coverage) — merge
    // overlapping/touching per-user activity intervals and account the
    // covered time: the primitive behind viewability/uptime/SLA
    // accounting and span-consolidation. Each event opens a
    // deterministic-length interval ([ts, ts + 60..299 s), length keyed
    // by event_id), islands form where a start lies strictly after the
    // running max end (gaps-and-islands with a PRECEDING-frame running
    // max — the general variable-length-interval rule, not the
    // equal-length lag shortcut), and within an island coverage is
    // contiguous so length = max(end) − min(start). All arithmetic in
    // integer epoch-microseconds — both engines replay it exactly. One
    // shuffle on user_id + sorted window scans; no self-join, no
    // per-minute explode.
    NamedQuery(
      "q47_interval_union",
      (s, dir) => {
        val iv = t(s, dir, "events").select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (lit(60) + pmod(col("event_id"), lit(240))) * lit(1000000L)).as("e_us"))
        Intervals.coverage(iv, "user_id", "s_us", "e_us", "event_id")
          .select(
            col("user_id"), col("n_islands"),
            col("covered").as("covered_us"), col("longest").as("longest_us"))
          .orderBy("user_id")
      },
      Some(
        "WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s_us, " +
          "epoch_us(ts) + (60 + event_id % 240) * 1000000 AS e_us FROM events), " +
          "mk AS (SELECT user_id, event_id, s_us, e_us, max(e_us) OVER " +
          "(PARTITION BY user_id ORDER BY s_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM iv), " +
          "fl AS (SELECT user_id, event_id, s_us, e_us, CASE WHEN pme IS NULL OR s_us > pme THEN 1 ELSE 0 END AS b FROM mk), " +
          "il AS (SELECT user_id, s_us, e_us, sum(b) OVER " +
          "(PARTITION BY user_id ORDER BY s_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM fl), " +
          "seg AS (SELECT user_id, isl, min(s_us) AS cs, max(e_us) AS ce FROM il GROUP BY user_id, isl) " +
          "SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands, " +
          "CAST(sum(ce - cs) AS BIGINT) AS covered_us, CAST(max(ce - cs) AS BIGINT) AS longest_us " +
          "FROM seg GROUP BY user_id ORDER BY user_id")),

    // Typed per-group streaming fold (`Dataset[T].groupByKey.mapGroups`)
    // — the Encoder-backed imperative surface the engine had not yet
    // exposed (Aggregator and flatMapGroupsWithState are covered; this is
    // the plain per-group iterator fold): an ordinary-least-squares fit
    // of chars-per-doc on tokens-per-doc, per source. The fold keeps five
    // Long moments (n, Σx, Σy, Σxy, Σx²) in O(1) state over the group
    // ITERATOR — group size never materializes, so a billion-row source
    // streams through one task — and every product goes through
    // Math.multiplyExact/addExact so a corpus big enough to overflow the
    // closed-form numerators fails LOUDLY (ANSI discipline, the p15
    // bound-guard pattern) instead of shipping a wrong slope. Slope
    // crosses the oracle as the EXACT integer fraction (n·Σxy − Σx·Σy) /
    // (n·Σx² − (Σx)²) plus its one-division f32-squeezed value — no
    // re-associated float sums anywhere.
    NamedQuery(
      "q48_per_source_fit",
      (s, dir) => {
        import s.implicits._
        val rows = t(s, dir, "documents")
          .select(
            col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("x"),
            col("n_chars").as("y"))
          .as[(String, Long, Long)]
        val fits = rows
          .groupByKey(_._1)
          .mapGroups { (src, it) =>
            var n = 0L; var sx = 0L; var sy = 0L; var sxy = 0L; var sxx = 0L
            it.foreach { case (_, x, y) =>
              n = Math.addExact(n, 1L)
              sx = Math.addExact(sx, x)
              sy = Math.addExact(sy, y)
              sxy = Math.addExact(sxy, Math.multiplyExact(x, y))
              sxx = Math.addExact(sxx, Math.multiplyExact(x, x))
            }
            val num = Math.subtractExact(Math.multiplyExact(n, sxy), Math.multiplyExact(sx, sy))
            val den = Math.subtractExact(Math.multiplyExact(n, sxx), Math.multiplyExact(sx, sx))
            (src, n, num, den)
          }
          .toDF("source", "n_docs", "num", "den")
        fits
          .select(
            col("source"), col("n_docs"), col("num"), col("den"),
            when(col("den") =!= 0L,
              f32round(col("num").cast("double") / col("den").cast("double"), 6)).as("slope"))
          .orderBy("source")
      },
      Some(
        s"WITH d AS (SELECT source, CAST(len($duckToks) AS BIGINT) AS x, n_chars AS y FROM documents), " +
          "s AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
          "sum(x * y) AS sxy, sum(x * x) AS sxx FROM d GROUP BY source) " +
          "SELECT source, CAST(n AS BIGINT) AS n_docs, " +
          "CAST(n * sxy - sx * sy AS BIGINT) AS num, " +
          "CAST(n * sxx - sx * sx AS BIGINT) AS den, " +
          "CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE " +
          "round(CAST(CAST(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS REAL) AS DOUBLE), 6) + 0.0 END AS slope " +
          "FROM s ORDER BY source")),

    // Embedding-distribution DRIFT audit — the train/serve skew monitor
    // for the vector side (q43 is its scalar twin): per-DIMENSION mean
    // shift between two corpus slices (even vs odd vec_ids), computed in
    // EXACT integer shadow arithmetic so the verdict is portable:
    // f32 → f64 is exact, ×2²⁰ is an exponent shift (exact), round gives
    // an integer every engine agrees on bit-for-bit — so the
    // re-associated SUMS are exact Long arithmetic, never a float fold
    // (the trick that makes a cross-row mean oracle-safe at all; unit
    // vectors × 2²⁰ × corpus rows sit far inside Long). Output: each
    // dimension's |Δmean| in quantized units scaled by both slice
    // counts (|na·sum_b − nb·sum_a| — the cross-multiplied form, no
    // division), plus a drift flag at the 0.02-of-unit bar. One
    // posexplode + one (dim) aggregation: a single shuffle of 64 groups.
    NamedQuery(
      "v32_embedding_drift",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .withColumn("q", round(col("x").cast("double") * lit(1048576.0)).cast("long"))
          .withColumn("side", pmod(col("vec_id"), lit(2)))
        val agg = emb
          .groupBy("dim")
          .agg(
            sum(when(col("side") === 0, col("q"))).as("sum_a"),
            count(when(col("side") === 0, lit(1))).as("na"),
            sum(when(col("side") === 1, col("q"))).as("sum_b"),
            count(when(col("side") === 1, lit(1))).as("nb"))
        // |Δmean| ≤ bar  ⇔  |na·sum_b − nb·sum_a| ≤ bar·2²⁰·na·nb — all Long
        agg
          .select(
            col("dim"),
            col("na"), col("nb"),
            abs(col("na") * col("sum_b") - col("nb") * col("sum_a")).as("cross_diff"),
            when(
              abs(col("na") * col("sum_b") - col("nb") * col("sum_a")) * lit(50L) <=
                col("na") * col("nb") * lit(1048576L),
              1L).otherwise(0L).as("within_bar"))
          .orderBy("dim")
      },
      Some(
        "WITH e AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim, " +
          "CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS q, vec_id % 2 AS side " +
          "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)), " +
          "a AS (SELECT dim, sum(CASE WHEN side = 0 THEN q END) AS sum_a, " +
          "count(CASE WHEN side = 0 THEN 1 END) AS na, " +
          "sum(CASE WHEN side = 1 THEN q END) AS sum_b, " +
          "count(CASE WHEN side = 1 THEN 1 END) AS nb FROM e GROUP BY dim) " +
          "SELECT dim, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb, " +
          "CAST(abs(na * sum_b - nb * sum_a) AS BIGINT) AS cross_diff, " +
          "CAST(CASE WHEN abs(na * sum_b - nb * sum_a) * 50 <= na * nb * 1048576 THEN 1 ELSE 0 END AS BIGINT) AS within_bar " +
          "FROM a ORDER BY dim")),

    // Power-iteration centrality (rel/PageRank.run) — the canonical
    // iterative-join workload (domain authority for crawl curation,
    // influence weights for sampling), certified EXACTLY: ranks are
    // integer-quantized (unit 10¹²) and every step is floor-division +
    // integer-sum arithmetic, so the oracle replays all 10 supersteps
    // bit-for-bit as 10 unrolled CTEs — no float association, no
    // tolerance. Graph = a deterministic functional expander over 100
    // customer keys (each node → (7·node + 13i) mod 100, i ∈ {1,2,3};
    // out-degree exactly 3, in-degree varies — real skew). Spark runs
    // the BSP loop as 10 chained join+aggregate rounds (no broadcast
    // hint anywhere — the |V|-sized degree table shuffles on its join
    // key and the exchange is reused by the adjacent edge join; the
    // superstep cost shape that holds at any graph size).
    NamedQuery(
      "p16_pagerank",
      (s, dir) => {
        val unit = 1000000000000L
        val nodes = t(s, dir, "customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey").as("node"))
        val edges = nodes
          .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("i"))
          .select(col("src"), pmod(col("src") * 7 + col("i") * 13, lit(100)).as("dst"))
        PageRank.run(nodes, edges, iters = 10, unit = unit)
          .select(col("node"), col("r").as("rank_q"))
          .orderBy(col("rank_q").desc, col("node"))
          .limit(20)
      },
      Some {
        val steps = (1 to 10).map { k =>
          s"r$k AS (SELECT n.node, 150000000000 + (85 * COALESCE(s.incoming, 0)) // 100 AS r " +
            s"FROM nodes n LEFT JOIN (SELECT e.dst, sum(r.r // d.deg) AS incoming " +
            s"FROM r${k - 1} r JOIN deg d ON r.node = d.src JOIN edges e ON e.src = r.node " +
            "GROUP BY e.dst) s ON n.node = s.dst)"
        }.mkString(", ")
        "WITH nodes AS (SELECT c_custkey AS node FROM customer WHERE c_custkey < 100), " +
          "edges AS (SELECT node AS src, (node * 7 + i * 13) % 100 AS dst " +
          "FROM nodes, unnest([1, 2, 3]) AS t(i)), " +
          "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), " +
          "r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes), " +
          steps + " " +
          "SELECT node, CAST(r AS BIGINT) AS rank_q FROM r10 " +
          "ORDER BY rank_q DESC, node LIMIT 20"
      }),

    // PERSONALIZED PageRank / random walk with restart
    // (PageRank.personalized, Haveliwala WWW 2002) — seed-set expansion,
    // the "find documents like these" primitive curation pipelines run
    // around a trusted set: teleport mass returns ONLY to the 6-node
    // seed set, so scores measure proximity-to-seeds, not global
    // authority. Same exact-integer quantization as p16 (per-seed
    // teleport reduces to the identical 0.15·unit base — no |S|
    // division, floors only), so the oracle replays all 10 supersteps
    // as unrolled CTEs and the ENTIRE 100-node assignment crosses the
    // hash. Same hint-free superstep plan as p16 (the PageRank plan
    // rule: nothing |V|-sized broadcast).
    NamedQuery(
      "p20_personalized_pagerank",
      (s, dir) => {
        val unit = 1000000000000L
        val nodes = t(s, dir, "customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey").as("node"))
        val edges = nodes
          .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("i"))
          .select(col("src"), pmod(col("src") * 7 + col("i") * 13, lit(100)).as("dst"))
        val seeds = nodes.filter(pmod(col("node"), lit(17)) === 3)
        PageRank.personalized(nodes, edges, seeds, iters = 10, unit = unit)
          .select(col("node"), col("r").as("ppr_q"))
          .orderBy("node")
      },
      Some {
        val steps = (1 to 10).map { k =>
          s"r$k AS (SELECT n.node, (CASE WHEN n.node % 17 = 3 THEN 150000000000 ELSE 0 END) " +
            s"+ (85 * COALESCE(s.incoming, 0)) // 100 AS r " +
            s"FROM nodes n LEFT JOIN (SELECT e.dst, sum(r.r // d.deg) AS incoming " +
            s"FROM r${k - 1} r JOIN deg d ON r.node = d.src JOIN edges e ON e.src = r.node " +
            "GROUP BY e.dst) s ON n.node = s.dst)"
        }.mkString(", ")
        "WITH nodes AS (SELECT c_custkey AS node FROM customer WHERE c_custkey < 100), " +
          "edges AS (SELECT node AS src, (node * 7 + i * 13) % 100 AS dst " +
          "FROM nodes, unnest([1, 2, 3]) AS t(i)), " +
          "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), " +
          "r0 AS (SELECT node, CAST(CASE WHEN node % 17 = 3 THEN 1000000000000 ELSE 0 END AS BIGINT) AS r FROM nodes), " +
          steps + " " +
          "SELECT node, CAST(r AS BIGINT) AS ppr_q FROM r10 ORDER BY node"
      }),

    // Multi-source BFS HOP DISTANCE (rel/Bfs) — the discrete sibling of
    // p20: label every node with its exact hop distance from the nearest
    // trusted seed (crawl depth, staleness tiers), −1 beyond the horizon.
    // Pure BSP set algebra (no weights, no floats, no ties), so the
    // oracle replays all 6 rounds as unrolled MATERIALIZED CTEs and the
    // ENTIRE 99-node assignment crosses the hash. Per round: one edge
    // join against the shrinking frontier + one anti-join against the
    // labels — node-key shuffles only (the PageRank plan rule).
    NamedQuery(
      "p21_bfs_depth",
      (s, dir) => {
        val nodes = t(s, dir, "customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey").as("node"))
        val edges = nodes
          .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("i"))
          .select(col("src"), pmod(col("src") * 7 + col("i") * 13, lit(100)).as("dst"))
        val seeds = nodes.filter(pmod(col("node"), lit(17)) === 3)
        Bfs.run(nodes, edges, seeds, maxHops = 6).orderBy("node")
      },
      Some {
        val rounds = (1 to 6).map { i =>
          s"f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM edges e " +
            s"JOIN f${i - 1} f ON e.src = f.node " +
            s"WHERE e.dst IN (SELECT node FROM nodes) " +
            s"AND e.dst NOT IN (SELECT node FROM l${i - 1})), " +
            s"l$i AS MATERIALIZED (SELECT node, dist FROM l${i - 1} " +
            s"UNION ALL SELECT node, $i AS dist FROM f$i)"
        }.mkString(", ")
        "WITH nodes AS MATERIALIZED (SELECT c_custkey AS node FROM customer WHERE c_custkey < 100), " +
          "edges AS MATERIALIZED (SELECT node AS src, (node * 7 + i * 13) % 100 AS dst " +
          "FROM nodes, unnest([1, 2, 3]) AS t(i)), " +
          "l0 AS MATERIALIZED (SELECT node, 0 AS dist FROM nodes WHERE node % 17 = 3), " +
          "f0 AS MATERIALIZED (SELECT node FROM l0), " +
          rounds + " " +
          "SELECT n.node, CAST(coalesce(l.dist, -1) AS INTEGER) AS dist " +
          "FROM nodes n LEFT JOIN l6 l ON n.node = l.node ORDER BY n.node"
      }),

    // Semi-supervised LABEL PROPAGATION (rel/LabelProp.run) — the second
    // canonical iterative-join workload: a 12-node human-labeled seed set
    // spreads over a deterministic functional graph on 120 customer keys
    // (node → (7·node + 13i) mod 120, i ∈ {1,2,3}; in-degree exactly 3 —
    // 7 is invertible mod 120). Votes are integer counts, ties break to
    // the SMALLEST label, seeds are clamped — fully deterministic, so the
    // oracle replays all 6 supersteps as unrolled CTEs and the ENTIRE
    // 120-node assignment crosses the hash (never-reached nodes emit −1,
    // keeping the column integer on both engines). Spark runs the BSP
    // loop as chained join+aggregate rounds: the argmax lives inside one
    // integer max(struct(count, −label)) aggregate — no window, nothing
    // data-sized broadcast (the PageRank plan rule).
    NamedQuery(
      "p17_label_propagation",
      (s, dir) => {
        val nodes = t(s, dir, "customer")
          .filter(col("c_custkey") < 120)
          .select(col("c_custkey").as("node"))
        val edges = nodes
          .select(col("node").as("src"), explode(array(lit(1), lit(2), lit(3))).as("i"))
          .select(col("src"), pmod(col("src") * 7 + col("i") * 13, lit(120)).as("dst"))
        val seeds = nodes
          .filter(col("node") < 12)
          .select(col("node"), pmod(col("node"), lit(4)).as("label"))
        LabelProp.run(nodes, seeds, edges, iters = 6)
          .select(col("node"), coalesce(col("label"), lit(-1L)).as("label"))
          .orderBy("node")
      },
      Some {
        val steps = (1 to 6).map { tt =>
          s"v$tt AS (SELECT e.dst AS node, l.lab AS lab, count(*) AS c " +
            s"FROM l${tt - 1} l JOIN edges e ON e.src = l.node " +
            "WHERE l.lab IS NOT NULL GROUP BY 1, 2), " +
            s"p$tt AS (SELECT node, min(lab) AS vote FROM (SELECT node, lab, c, " +
            s"max(c) OVER (PARTITION BY node) AS mc FROM v$tt) q WHERE c = mc GROUP BY node), " +
            s"l$tt AS (SELECT n.node, coalesce(s.lab, p.vote, prev.lab) AS lab FROM nodes n " +
            s"LEFT JOIN seeds s ON n.node = s.node LEFT JOIN p$tt p ON n.node = p.node " +
            s"LEFT JOIN l${tt - 1} prev ON n.node = prev.node)"
        }.mkString(", ")
        "WITH nodes AS (SELECT c_custkey AS node FROM customer WHERE c_custkey < 120), " +
          "edges AS (SELECT node AS src, (node * 7 + i * 13) % 120 AS dst " +
          "FROM nodes, unnest([1, 2, 3]) AS t(i)), " +
          "seeds AS (SELECT node, CAST(node % 4 AS BIGINT) AS lab FROM nodes WHERE node < 12), " +
          "l0 AS (SELECT n.node, s.lab FROM nodes n LEFT JOIN seeds s ON n.node = s.node), " +
          steps + " " +
          "SELECT node, CAST(coalesce(lab, -1) AS BIGINT) AS label FROM l6 ORDER BY node"
      }),

    // TRIANGLE enumeration (rel/Triangles — Schank–Wagner degree-ordered
    // orientation) over a REAL co-occurrence graph: parts are linked when
    // some order contains both (the classic co-purchase graph; in a
    // training-data pipeline the same kernel scores clustering density on
    // similarity graphs). Edge generation is an equality self-join on
    // l_orderkey (per-order fan-out is bounded by order size — never
    // all-pairs); a deterministic fifth of the parts keeps the graph at a
    // constant ~18 average degree at EVERY scale (replica key shifts are
    // ≡ 0 mod 5, so scaled corpora keep the same subgraph density).
    // Orientation bounds wedge fan-out by O(√m) regardless of hub skew —
    // the whole algorithm is integer-exact and schedule-free, so the
    // ENTIRE sorted triangle list crosses the hash; the oracle counts the
    // same graph with the naive a<b<c triple join.
    NamedQuery(
      "p18_triangle_count",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(pmod(col("l_partkey"), lit(5)) === 0)
          .select(col("l_orderkey"), col("l_partkey"))
        val pairs = li.as("a")
          .join(
            li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        Triangles.triangles(pairs).orderBy("a", "b", "c")
      },
      Some(
        "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0), " +
          "e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
          "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) " +
          "SELECT e1.u AS a, e1.v AS b, e2.v AS c " +
          "FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v " +
          "ORDER BY 1, 2, 3")),

    // k-CORE decomposition (rel/KCore — Matula–Beck parallel peeling)
    // over the co-purchase graph's other deterministic fifth: the
    // graph-density filter that separates the high-signal dense community
    // from the sparse spam/boilerplate shell. Peeling is schedule-free
    // (every superstep drops ALL sub-k nodes at once; the fixpoint is
    // unique and idempotent), so a fixed 12-round budget replaces any
    // driver-side convergence poll and the emitted `converged` flag —
    // min over survivors of (in-core degree ≥ k), a one-row aggregate —
    // certifies the budget sufficed. The oracle replays all 12 peels as
    // unrolled CTEs; the ENTIRE surviving (node, cdeg) assignment plus
    // the flag crosses the hash.
    NamedQuery(
      "p19_kcore",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(pmod(col("l_partkey"), lit(5)) === 1)
          .select(col("l_orderkey"), col("l_partkey"))
        val pairs = li.as("a")
          .join(
            li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        KCore.decompose(pairs, k = 8, rounds = 12).orderBy("node")
      },
      Some {
        // every e_i / l_i is referenced twice downstream — MATERIALIZED
        // stops DuckDB's default CTE inlining from doubling the scan tree
        // per peel round (12 rounds inlined = a 4^12-leaf plan that
        // exhausts file handles before it runs)
        val rounds = (1 to 12).map { i =>
          s"e$i AS MATERIALIZED (SELECT e.u, e.v FROM e JOIN l${i - 1} a ON e.u = a.node " +
            s"JOIN l${i - 1} b ON e.v = b.node), " +
            s"d$i AS (SELECT node, count(*) AS c FROM " +
            s"(SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY 1), " +
            s"l$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= 8)"
        }.mkString(", ")
        "WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 1), " +
          "e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
          "FROM li0 a JOIN li0 b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
          "l0 AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e), " +
          rounds + ", " +
          "ef AS MATERIALIZED (SELECT e.u, e.v FROM e JOIN l12 a ON e.u = a.node JOIN l12 b ON e.v = b.node), " +
          "df AS (SELECT node, count(*) AS c FROM " +
          "(SELECT u AS node FROM ef UNION ALL SELECT v FROM ef) GROUP BY 1), " +
          "fin AS MATERIALIZED (SELECT l.node, coalesce(d.c, 0) AS cdeg FROM l12 l LEFT JOIN df d ON l.node = d.node) " +
          "SELECT node, CAST(cdeg AS BIGINT) AS cdeg, " +
          "CAST((SELECT coalesce(min(CASE WHEN cdeg >= 8 THEN 1 ELSE 0 END), 1) FROM fin) AS BIGINT) AS converged " +
          "FROM fin ORDER BY node"
      }),

    // Schema-on-read CORRUPT-RECORD accounting — the ingest-side contract
    // a 100 TB semi-structured feed lives by: `from_json` in PERMISSIVE
    // mode must turn malformed payloads into null fields (never a task
    // failure, never a dropped row) while valid rows parse typed. A
    // deterministic thirteenth of the rows is corrupted AT THE FIRST BYTE
    // (leading '@') so the parser fails before reading any field —
    // Spark's PERMISSIVE parser keeps PARTIAL results for records that
    // fail mid-parse, so a truncated-tail corruption would diverge from
    // any engine that validates whole documents; first-byte corruption
    // pins both engines to the same verdict. The oracle replays the
    // mangling and the accounting via json_valid + json_extract.
    NamedQuery(
      "q49_corrupt_records",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val mangled = ev.withColumn(
          "pm",
          when(pmod(col("event_id"), lit(13)) === 0, concat(lit("@"), col("props")))
            .otherwise(col("props")))
        mangled
          .withColumn("k", expr("from_json(pm, 'k BIGINT').k"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
            sum("k").as("sum_k"))
          .orderBy("event_type")
      },
      Some(
        "WITH m AS (SELECT event_type, event_id, CASE WHEN event_id % 13 = 0 " +
          "THEN '@' || props ELSE props END AS pm FROM events), " +
          "p AS (SELECT event_type, CASE WHEN json_valid(pm) " +
          "THEN TRY_CAST(json_extract_string(pm, '$.k') AS BIGINT) END AS k FROM m) " +
          "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt, " +
          "CAST(sum(k) AS BIGINT) AS sum_k " +
          "FROM p GROUP BY event_type ORDER BY event_type")),

    // Audio VOICE-ACTIVITY segmentation — m11's story for sound and the
    // other half of the multimodal frame-sampling policy (trim silence,
    // keep speech segments): each asset plants a structured waveform
    // (200-sample frames alternating 2-on/2-off between high-energy
    // pseudo-noise and near-silence; min active frame energy 5.4e9 vs
    // max silent 8.4e3 — a six-decade guard band around the 1e6 gate),
    // encodes it as a REAL RIFF/PCM16 WAV, decodes through
    // javax.sound.sampled, gates per-frame Σs² energy, and merges active
    // frames into segments by REUSING Intervals.unionPerKey on
    // [frame, frame+1) — touching frames merge, gaps split. Energy is
    // exact integer arithmetic end-to-end, so the oracle replays sample
    // generation, framing, gate, and segmentation from the formula
    // alone; hash-green certifies the codec round-trip AND the VAD.
    NamedQuery(
      "m12_vad_segments",
      (s, dir) => {
        val aC = col("doc_id")
        val nF = (lit(12) + pmod(aC, lit(5))).cast("int")
        val sampleOf = (i: org.apache.spark.sql.Column) => {
          val f = ((i.cast("long") - pmod(i, lit(200)).cast("long")) / 200).cast("long")
          when(
            pmod(f + aC, lit(4)) < 2,
            pmod(i.cast("long") * lit(2654435761L) + aC * 97, lit(18001)) - 9000)
            .otherwise(pmod(i.cast("long") * 7 + aC, lit(21)) - 10)
            .cast("int")
        }
        val spec = t(s, dir, "documents")
          .filter(col("doc_id") < 30)
          .select(
            col("doc_id").as("asset_id"),
            lit(8000).as("sample_rate"),
            transform(sequence(lit(0), nF * 200 - 1), sampleOf).as("samples"))
        val wav = MultimodalOps.encodePcmWavSamples(spec)
        val frames = MultimodalOps.audioFrameFeatures(wav, "asset_id", "content", frameLen = 200)
        val active = frames
          .filter(col("sum_sq") > 1000000L)
          .select(
            col("asset_id"),
            col("frame_idx").cast("long").as("fs"),
            (col("frame_idx") + 1).cast("long").as("fe"),
            col("frame_idx").as("fid"))
        Intervals.coverage(active, "asset_id", "fs", "fe", "fid")
          .select(
            col("asset_id"), col("n_islands").as("n_segments"),
            col("covered").as("speech_frames"), col("longest").as("longest_frames"))
          .orderBy("asset_id")
      },
      Some(
        "WITH spec AS (SELECT doc_id AS a, 12 + doc_id % 5 AS nf FROM documents WHERE doc_id < 30), " +
          "smp AS (SELECT a, r.range AS i, r.range // 200 AS f, " +
          "CASE WHEN ((r.range // 200) + a) % 4 < 2 " +
          "THEN (r.range * 2654435761 + a * 97) % 18001 - 9000 " +
          "ELSE (r.range * 7 + a) % 21 - 10 END AS s " +
          "FROM spec, range(0, 3200) r WHERE r.range < nf * 200), " +
          "fr AS (SELECT a, f, sum(s * s) AS sum_sq FROM smp GROUP BY a, f), " +
          "act AS (SELECT a, f FROM fr WHERE sum_sq > 1000000), " +
          "fl AS (SELECT a, f, CASE WHEN lag(f) OVER (PARTITION BY a ORDER BY f) IS NULL " +
          "OR f - lag(f) OVER (PARTITION BY a ORDER BY f) > 1 THEN 1 ELSE 0 END AS b FROM act), " +
          "il AS (SELECT a, f, sum(b) OVER (PARTITION BY a ORDER BY f " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM fl), " +
          "sg AS (SELECT a, seg, count(*) AS len FROM il GROUP BY a, seg) " +
          "SELECT a AS asset_id, CAST(count(*) AS BIGINT) AS n_segments, " +
          "CAST(sum(len) AS BIGINT) AS speech_frames, CAST(max(len) AS BIGINT) AS longest_frames " +
          "FROM sg GROUP BY a ORDER BY asset_id")))
}
