package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] Semi-supervised LABEL PROPAGATION — the second canonical
  * iterative-join workload next to [[PageRank]] (weak-label spreading for
  * training-data curation: a small human-labeled seed set plus a
  * similarity/link graph labels the rest of the corpus). Made
  * oracle-portable the same way: labels are integers, votes are integer
  * counts, and the tie rule is deterministic (max vote count, ties to the
  * SMALLEST label), so any engine replaying the same schedule produces
  * the identical assignment — no randomness, no float scores.
  *
  * Per superstep: the label state fans out across `edges` plus one marked
  * self-loop per node (one shuffle on src) — the self-loop carries the
  * node's own label through the same join as its neighbors' votes —
  * votes aggregate per (dst, label), then reduce to the argmax via an
  * integer `max(struct(count, -label))` (one shuffle on dst — the
  * struct-max trick keeps the argmax inside a codegen'd aggregate instead
  * of a window). Seeds are CLAMPED (they never change — the standard
  * semi-supervised variant); an unlabeled node with no labeled
  * in-neighbors stays unlabeled; a previously-labeled node keeps its
  * label when a round brings no votes. Same cost shape as every BSP
  * superstep — the edge table shuffles only on its join keys, nothing
  * data-sized is broadcast. One state reference per round; [[Iterate]]
  * truncates every 2 rounds.
  */
object LabelProp {

  /** `nodes(node)`, `seeds(node, label)` (label non-null, one row per
    * seed node), `edges(src, dst)`. Returns `(node, label)` after `iters`
    * supersteps; `label` is null for nodes no label ever reached. */
  def run(nodes: DataFrame, seeds: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val lab = nodes
      .join(seeds.select(col("node"), col("label").cast("long")), Seq("node"), "left")
      .select(col("node"), col("label"))
    Iterate.rounds(lab, iters)(step(nodes, seeds, edges))
  }

  /** One superstep over the state `(node, label)`. */
  private[graft] def step(
      nodes: DataFrame,
      seeds: DataFrame,
      edges: DataFrame): (DataFrame, Int) => DataFrame = {
    // vote edges (self 0) plus one self-loop per node (self 1) that also
    // marks whether the node is a clamped seed
    val adj = edges.select(col("src"), col("dst"), lit(0).as("self"), lit(0).as("seed"))
      .unionByName(
        nodes.join(seeds.select(col("node"), lit(1).as("seed")), Seq("node"), "left")
          .select(
            col("node").as("src"),
            col("node").as("dst"),
            lit(1).as("self"),
            coalesce(col("seed"), lit(0)).as("seed")))
    (lab, _) =>
      lab.select(col("node").as("src"), col("label"))
        .join(adj, "src")
        .filter(col("self") === 1 || col("label").isNotNull)
        .groupBy("dst", "label")
        .agg(
          sum(lit(1) - col("self")).as("c"),
          max(col("self")).as("own"),
          max(col("seed")).as("seed"))
        // argmax by (count, -label): struct ordering compares count
        // first, then the negated label — i.e. ties break to the smallest
        // label — all inside one integer aggregate
        .groupBy("dst")
        .agg(
          max(when(col("c") > 0, struct(col("c"), (-col("label")).as("nl")))).as("best"),
          max(when(col("own") === 1, col("label"))).as("prev"),
          max(col("own")).as("is_node"),
          max(col("seed")).as("seed"))
        // vote edges may point outside the node set: only groups holding
        // a self-loop are nodes
        .filter(col("is_node") === 1)
        .select(
          col("dst").as("node"),
          when(col("seed") === 1, col("prev"))
            .otherwise(coalesce(-col("best.nl"), col("prev"))).as("label"))
  }
}
