package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] k-CORE decomposition by parallel peeling — the standard
  * graph-density filter a training-data pipeline runs over similarity /
  * co-occurrence / link graphs (spam and boilerplate live in the sparse
  * shell; the dense core is the high-signal community). Matula–Beck
  * peeling, BSP form: every superstep recomputes degrees within the
  * surviving subgraph and drops EVERY node below k at once — the fixpoint
  * (each survivor has ≥ k surviving neighbors) is the k-core, reached in
  * at most diameter-ish rounds and IDEMPOTENT afterwards, so a fixed
  * round budget needs no driver-side convergence poll: extra rounds are
  * no-ops and the emitted `converged` flag (min over survivors of
  * in-core-degree ≥ k — a one-row aggregate, free) certifies the budget
  * sufficed. Per round the cost is one degree frame: the half-edges join
  * the survivor set once on the neighbor key and one aggregate on the
  * node key counts each node's surviving neighbors — equality shuffles
  * on the node key only, nothing data-sized broadcast, no windows. One
  * state reference per round; [[Iterate]] truncates every 2 rounds.
  */
object KCore {

  /** Survivors of the k-core of the undirected graph given by `edges
    * (src, dst)` (direction/duplication ignored, self-loops dropped)
    * after `rounds` peel supersteps: `(node, cdeg, converged)` with
    * `cdeg` the node's degree WITHIN the survivor set and `converged` =
    * 1 on every row iff no survivor sits below k (the fixpoint
    * certificate — always 1 when `rounds` covers the peel depth). */
  def decompose(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    // Deliberately NOT cached: measured on p19 at sf0.1, a cache() of
    // the edge list made the query SLOWER (7.8 → 9.2 s, tasks 58 → 1294:
    // every round pays a 32-partition columnar-cache scan + deserialize
    // where the reused exchange was nearly free).
    val halves = halfEdges(edges)
    var live = Iterate.rounds(halves.select("node").distinct(), rounds)(step(halves, k))
    // the assembly references the survivor set three times (the left
    // join, the degree frame, and through `fin` the flag's crossJoin),
    // so the last span is truncated once before it
    if (rounds > 0) live = live.localCheckpoint()
    // left join, not the bare degree frame: a survivor whose last
    // neighbor died in the final round has NO live neighbor row — it must
    // surface as cdeg 0 (and fail the flag), not vanish from the output
    val fin = live
      .join(degreesWithin(halves, live), Seq("node"), "left")
      .select(col("node"), coalesce(col("cdeg"), lit(0L)).as("cdeg"))
    fin.crossJoin(
      fin.agg(
        coalesce(min(when(col("cdeg") >= k, 1L).otherwise(0L)), lit(1L))
          .as("converged")))
  }

  /** `(node, nbr)`: both directions of every canonical edge, from one
    * pass over the canonical edge list. */
  private[graft] def halfEdges(edges: DataFrame): DataFrame = {
    def half(node: String, nbr: String) = struct(col(node).as("node"), col(nbr).as("nbr"))
    Triangles.canonical(edges)
      .select(explode(array(half("u", "v"), half("v", "u"))).as("h"))
      .select("h.*")
  }

  /** One peel superstep over the survivor set `live(node)`. No own-alive
    * check is needed: the survivor set only shrinks, so a node peeled
    * earlier had fewer than k live neighbors then and has no more now. */
  private[graft] def step(halves: DataFrame, k: Int): (DataFrame, Int) => DataFrame =
    (live, _) => degreesWithin(halves, live).filter(col("cdeg") >= k).select("node")

  /** `(node, cdeg)`: for every node with a neighbor in `live`, how many
    * of its neighbors are live. */
  private def degreesWithin(halves: DataFrame, live: DataFrame): DataFrame =
    halves
      .join(live.select(col("node").as("nbr")), "nbr")
      .groupBy("node")
      .agg(count(lit(1)).as("cdeg"))
}
