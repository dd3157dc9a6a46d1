package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] BEAM search over a k-NN graph — the query-time half of
  * every graph-ANN index (HNSW layer 0, DiskANN, NSG): from a fixed
  * entry node, repeatedly expand the current beam's out-neighborhood,
  * score candidates exactly against the query, and keep the best `beam`
  * nodes; after a bounded number of hops the beam's top-k is the answer.
  * Per query the work is O(rounds · beam · deg) — INDEPENDENT of corpus
  * size, the sublinear per-query path that makes graph indexes the
  * state of the art at billion scale (cf. the IVF probe-pruning path in
  * [[IvfSearch]]; this is the other family).
  *
  * Spark shape: the beam is a `(query_id, vec_id, dist2)` relation; each
  * hop is (1) an equality join of the beam against the symmetrized edge
  * list on the node key, (2) an equality join against the vector table
  * for candidate embeddings, (3) a broadcast join against the (small by
  * contract) query table for the query vector, (4) a per-query bounded
  * top-`beam` rank. The edge list carries one SELF-LOOP per node, so
  * each hop's expansion is a superset of the current beam and the kept
  * set re-ranks a SUPERSET of what it had — per-query best-k is
  * monotonically non-decreasing across hops (spec-pinned), a fixed hop
  * budget needs no driver-side convergence poll, and the frontier is
  * never unioned with its own previous plan. Nothing data-sized is
  * broadcast; the graph shuffles once on `src` and the exchange is
  * reused across hops. One state reference per round;
  * [[graft.rel.Iterate]] truncates every 2 rounds.
  */
object GraphSearch {

  /** Search `graph` (out-edges `(src, dst)`, symmetrized internally —
    * k-NN edges are directed but navigability needs both directions) for
    * the top-`k` of each row of `queries(query_id, qvec)` among `nodes
    * (vec_id, embedding)`. All queries start from the SAME fixed
    * `entries` (deterministic — the HNSW "enter point" without the layer
    * hierarchy, pluralized: a flat k-NN graph has no long-range links,
    * so a single entry's guided walk stalls as the graph grows and the
    * standard remedy is multiple spread entry points — GNNS, Hajebi et
    * al. IJCAI 2011; entry count and hop budget should both grow
    * ~log(n), see v35's call site for the measured calibration).
    * Returns `(query_id, vec_id, rnk, dist2)`, `rnk ≤ k` by
    * `(dist2, vec_id)`. */
  def search(
      queries: DataFrame,
      graph: DataFrame,
      nodes: DataFrame,
      entries: Seq[Long],
      k: Int,
      beam: Int,
      rounds: Int): DataFrame = {
    require(entries.nonEmpty, "need at least one entry node")
    val spark = queries.sparkSession
    import spark.implicits._
    searchFrom(
      queries,
      graph,
      nodes,
      queries.select(col("query_id"))
        .crossJoin(broadcast(entries.distinct.toDF("vec_id"))),
      k, beam, rounds)
  }

  /** [[search]] with PER-QUERY seed nodes `seeds(query_id, vec_id)`
    * instead of one global entry set — the hierarchical-router form
    * every production graph index uses (HNSW's upper layers, DiskANN's
    * medoid, IVF-seeded graph hybrids): a coarse structure drops each
    * query near its neighborhood and the beam walk refines locally. On
    * navigability-poor graphs (low degree, unstructured vectors) this is
    * the difference between converging and stalling — a global entry's
    * guided walk decays with corpus growth no matter the beam
    * (BeamProbe at 10×: ≤ 0.73 from 32 global entries vs the bar from
    * IVF seeds). Seed ids not present in `nodes` drop out at the scoring
    * join. */
  def searchFrom(
      queries: DataFrame,
      graph: DataFrame,
      nodes: DataFrame,
      seeds: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && beam >= k, s"need beam >= k >= 1, got k=$k beam=$beam")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val frontier = graft.rel.Iterate.rounds(
      scored(queries, nodes, seeds.select("query_id", "vec_id").distinct()), rounds)(
      step(queries, graph, nodes, beam))
    graft.vector.TopK.perQueryDistinct(frontier, k)
      .select(col("query_id"), col("vec_id"), col("rank").as("rnk"), col("dist2"))
  }

  /** One hop over the beam `(query_id, vec_id, dist2)`: expand through
    * the symmetrized edge list plus self-loops, re-score, keep the best
    * `beam` per query. */
  private[graft] def step(
      queries: DataFrame,
      graph: DataFrame,
      nodes: DataFrame,
      beam: Int): (DataFrame, Int) => DataFrame = {
    val e = graph.select("src", "dst")
    // no distinct: a (a,b)+(b,a) reciprocal pair yields a duplicate edge
    // here, but the per-hop beam cut dedupes candidate ids anyway — the
    // distinct was a whole extra shuffle per walk for nothing. Cached
    // (CacheScope-scoped): every hop's expansion joins the SAME edge
    // list. Repartitioned on the hop-join key BEFORE caching: a union of
    // union-built graphs can carry hundreds of tiny partitions (an
    // inserted-into layer measured 192 → ~4 s of pure task-launch floor
    // PER HOP at 10×), and hash-on-src is the partitioning every hop's
    // equality join wants anyway.
    //
    // SELF-LOOPS (one per node, from the node table so edgeless members
    // keep their loop): each hop's expansion is then a SUPERSET of the
    // current beam by construction, so the kept set re-ranks everything
    // it had WITHOUT unioning the frontier with its own previous plan.
    // The union form referenced the frontier twice per hop — a 2^rounds
    // logical-plan blowup (v35 compiled to a 47k-line plan with 5,529
    // Exchange nodes even with a localCheckpoint every second hop, and
    // Catalyst re-analysis of those trees was measured at ~7 s per hop
    // at 10×) — while the self-loop form grows the plan LINEARLY in
    // rounds, so each truncated span hands AQE one small flat segment
    // and the und/emb/broadcast-q exchanges are reused instead of
    // re-materializing the frontier-union lineage per checkpoint job.
    // Result-identical: candidates per hop are beam ∪ N(beam) either
    // way, every copy re-scores to the same dist2 under the
    // deterministic kernel, and the id-deduping bounded heap keeps the
    // same (dist2, vec_id)-ordered top-beam.
    val und = graft.CacheScope.track(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(nodes.select(col("vec_id").as("src"), col("vec_id").as("dst")))
        .repartition(col("src"))
        .cache())
    // Per-hop shape (round 15 — the walk is the graph family's suite
    // constant): expansion duplicates are RE-SCORED rather than
    // anti-joined away (the distance kernel is deterministic, so every
    // copy carries the same dist2), and the beam cut is the id-deduping
    // bounded-heap aggregator — ONE map-side-combining aggregation per
    // hop in place of three all-row wide ops (distinct + left_anti +
    // window), the same O(queries·beam) shuffle bound with two fewer
    // exchanges. Re-scored arithmetic is O(dup·beam·deg) rows per
    // query — bounded, and cheaper than the joins it replaces.
    (frontier, _) => {
      val expanded = frontier
        .select(col("query_id"), col("vec_id").as("src"))
        .join(und, "src")
        .select(col("query_id"), col("dst").as("vec_id"))
      graft.vector.TopK
        .perQueryDistinct(scored(queries, nodes, expanded), beam)
        .select("query_id", "vec_id", "dist2")
    }
  }

  /** `cands(query_id, vec_id)` with each candidate's exact `dist2` to its
    * query. */
  private def scored(queries: DataFrame, nodes: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(nodes.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(
        col("query_id"),
        col("vec_id"),
        graft.vector.VectorOps.l2Sq(col("embedding"), col("qvec")).as("dist2"))
}
