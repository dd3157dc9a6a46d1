package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] Multi-source BFS hop distance — the discrete sibling of
  * [[PageRank.personalized]]: label every node with its exact hop
  * distance from the nearest seed (crawl depth from trusted roots, "how
  * many links from a curated page", staleness tiers). Pure BSP set
  * algebra — no weights, no floats, no tie-breaking: the frontier at
  * round i is exactly the unlabeled out-neighborhood of the round-(i−1)
  * frontier, so ANY engine replaying the schedule produces the identical
  * labeling, and the oracle does (unrolled CTEs).
  *
  * Per round the plan is one equality join of the `(node, dist)` state
  * against the edge list plus one self-loop per node, and one min-`dist`
  * aggregate on the node key — node-key shuffles only, nothing data-sized
  * broadcast (the [[PageRank]] plan rule). Only the round's frontier
  * (`dist = i`) expands through real edges; the self-loops carry every
  * label forward. One state reference per round; [[Iterate]] truncates
  * every 2 rounds.
  */
object Bfs {

  /** `nodes(node)`, `edges(src, dst)` (directed; parallel edges and
    * self-loops are harmless), `seeds(node)` (rows outside `nodes` are
    * ignored). Returns one row per node: `(node, dist)` with `dist` the
    * hop distance from the nearest seed, or −1 if not reached within
    * `maxHops` (the "outside this crawl horizon" certificate). */
  def run(nodes: DataFrame, edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    val init = nodes.select(col("node"))
      .join(seeds.select(col("node")).distinct().withColumn("dist", lit(0)), Seq("node"), "left")
    Iterate.rounds(init, maxHops)(step(nodes, edges))
      .select(col("node"), coalesce(col("dist"), lit(-1)).as("dist"))
  }

  /** One round over the state `(node, dist)`: every node, `dist` null
    * while unreached. Round `i` labels the out-neighbors of the `dist = i`
    * frontier with `i + 1` unless they already hold a smaller label. */
  private[graft] def step(nodes: DataFrame, edges: DataFrame): (DataFrame, Int) => DataFrame = {
    val ns = nodes.select(col("node"))
    // real edges (hop 1) stay closed over the node set; the self-loops
    // (hop 0) carry each node's label into the next round's aggregate
    val adj = edges.select(col("src"), col("dst"), lit(1).as("hop"))
      .join(ns.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .unionByName(ns.select(col("node").as("src"), col("node").as("dst"), lit(0).as("hop")))
    (state, i) =>
      state.select(col("node").as("src"), col("dist"))
        .join(adj, "src")
        .filter(col("hop") === 0 || col("dist") === i)
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("hop")).as("dist"))
  }
}
