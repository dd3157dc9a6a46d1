package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Power-iteration centrality (PageRank) in EXACT integer arithmetic —
  * the canonical iterative-join workload of large-scale dataflow (domain
  * authority for crawl curation, influence weighting for sampling), made
  * oracle-portable: ranks are Longs quantized to a caller-chosen `unit`,
  * each step is `r' = (15·unit) div 100 + (85 · Σ_in (r_u div deg_u)) div
  * 100` — floor division and integer sums only, so ANY engine that
  * replays the same schedule produces bit-identical ranks (no float
  * association anywhere; quantization loss is deterministic and bounded
  * by one unit per edge per step).
  *
  * Plan shape per iteration: ranks ⨝ out-degree (NO broadcast hint —
  * the degree table has one row per node with out-edges, i.e. it is
  * |V|-sized DATA, and forcing it through driver broadcast every
  * superstep is an OOM at billion-node scale; the hint-free join
  * shuffles both sides on the node key, that exchange is reused by the
  * very next `join(edges, "src")`, and when the graph really is small
  * AQE still converts the shuffle join to a broadcast at runtime from
  * MEASURED sizes), fan-out across `edges` (one shuffle on src),
  * aggregate incoming shares (one shuffle on dst), left-join back to
  * the node set. At 100 TB scale the edge table is the only big operand
  * and it is shuffled ON ITS JOIN KEY once per side per step — the same
  * cost shape as every BSP graph engine's superstep. One state reference
  * per round; [[Iterate]] truncates every 2 rounds.
  */
object PageRank {

  /** `nodes(node)`, `edges(src, dst)` (parallel edges allowed — each
    * carries its own share). Returns `(node, r)` after `iters` steps from
    * a uniform start of `unit` per node. Dangling nodes (no out-edges)
    * simply retain no outgoing mass — the damping base keeps their rank
    * positive; nodes with no in-edges converge to the base. */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int, unit: Long): DataFrame = {
    require(iters >= 0 && unit > 0 && unit % 20 == 0,
      s"unit must be positive and divisible by 20 for an exact damping base (got $unit)")
    // Entry-time overflow bound for the `85 * incoming` step: integer
    // floors only ever LOSE mass, so at every superstep
    // incoming ≤ Σ ranks ≤ |V|·unit — one BigInt check here proves all
    // `iters` supersteps stay inside Long. Costs one count of the node
    // table (O(|V|) once, vs `iters` full superstep shuffles).
    requireNoOverflow(nodes, unit)
    val base = 3L * (unit / 20L) // = 0.15·unit, exact since 20 | unit
    Iterate.rounds(nodes.select(col("node"), lit(unit).as("r")), iters)(
      step(nodes.select(col("node"), lit(base).as("base")), edges))
  }

  /** PERSONALIZED PageRank (random walk with restart): the teleport mass
    * returns to the `seeds(node)` set instead of everywhere — the
    * standard seed-expansion primitive (find pages/documents "like
    * these": local community scoring around a trusted set, Haveliwala
    * WWW 2002). Same exact-integer discipline as [[run]], so the oracle
    * replays it bit-identically: start `unit` on each seed and 0
    * elsewhere; each step is `r'(v) = [v ∈ S]·(15·unit div 100) +
    * (85 · Σ_in (r_u div deg_u)) div 100`. Per-seed teleport
    * `(15·U) div (100·|S|)` with `U = |S|·unit` reduces exactly to
    * `3·(unit/20)` — no |S| division anywhere, so exactness needs only
    * `20 | unit`. Mass only leaks (floors + dangling nodes), so the
    * [[run]] overflow bound `85·|V|·unit ≤ Long.Max` covers every
    * superstep here too (total circulating mass ≤ |S|·unit ≤ |V|·unit).
    * Non-seed nodes unreachable from any seed converge to exactly 0 —
    * the "not in this community" certificate. The superstep is [[run]]'s
    * (hint-free degree join, exchange-reused); only the per-node base
    * differs. */
  def personalized(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      unit: Long): DataFrame = {
    require(iters >= 0 && unit > 0 && unit % 20 == 0,
      s"unit must be positive and divisible by 20 for an exact teleport base (got $unit)")
    requireNoOverflow(nodes, unit)
    val base = 3L * (unit / 20L)
    val isSeed = nodes
      .join(seeds.select(col("node")).distinct().withColumn("is_seed", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    // per-node teleport: base on seeds, 0 elsewhere — |V|-sized, joined
    // hint-free exactly like the degree table (same scale rationale)
    Iterate.rounds(isSeed.select(col("node"), (col("is_seed") * unit).as("r")), iters)(
      step(isSeed.select(col("node"), (col("is_seed") * base).as("base")), edges))
  }

  private def requireNoOverflow(nodes: DataFrame, unit: Long): Unit = {
    val nV = nodes.count()
    require(
      BigInt(85) * nV * unit <= BigInt(Long.MaxValue),
      s"85 * |V| * unit overflows Long ($nV nodes at unit $unit) — choose a smaller unit")
  }

  /** One superstep over the state `(node, r)`: `r' = base + (85 · Σ_in
    * (r_u div deg_u)) div 100`, with `teleport(node, base)` naming each
    * node's base. */
  private[graft] def step(teleport: DataFrame, edges: DataFrame): (DataFrame, Int) => DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    (ranks, _) => {
      val incoming = ranks
        // hint-free on purpose: deg is |V|-sized data, not metadata — see
        // the plan-shape note above; PlanAuditSpec pins the absence of a
        // broadcast hint in the superstep loop
        .join(deg, ranks("node") === deg("src"))
        .select(col("src"), expr("r div deg").as("share"))
        .join(edges, "src")
        .groupBy("dst")
        .agg(sum("share").as("incoming"))
      teleport
        .join(incoming.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .na.fill(0L, Seq("incoming"))
        .select(col("node"), (col("base") + expr("(85 * incoming) div 100")).as("r"))
    }
  }
}
