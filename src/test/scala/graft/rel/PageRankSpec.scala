package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val unit = 1000000000000L
  private val base = 3L * (unit / 20L)

  /** Driver-side replay of the integer recurrence: `unit` start and `base`
    * teleport on `seeds`, 0 elsewhere. */
  private def refRanks(nodes: Seq[Long], edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int) = {
    val deg = edges.groupBy(_._1).map { case (s, out) => s -> out.size.toLong }
    var r = nodes.map(n => n -> (if (seeds(n)) unit else 0L)).toMap
    (1 to iters).foreach { _ =>
      val incoming = edges.groupBy(_._2).map { case (d, in) => d -> in.map { case (s, _) => r(s) / deg(s) }.sum }
      r = nodes.map(n => n -> ((if (seeds(n)) base else 0L) + 85L * incoming.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("two-node cycle: symmetry is preserved exactly and ranks follow the damping recurrence") {
    val nodes = Seq(1L, 2L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = PageRank.run(nodes, edges, iters = 5, unit = unit)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L), "cycle symmetry broken")
    // closed form of the integer recurrence: r' = base + (85 * r) div 100
    var r = unit
    (1 to 5).foreach(_ => r = base + (85L * r) / 100L)
    assert(got(1L) == r, s"rank ${got(1L)} disagrees with the exact recurrence $r")
  }

  test("isolated node holds exactly the damping base; total mass never exceeds the start mass") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst") // 3 is isolated
    val ranks = PageRank.run(nodes, edges, iters = 4, unit = unit)
    val m = ranks.as[(Long, Long)].collect().toMap
    assert(m(3L) == base, s"isolated node rank ${m(3L)} != base $base")
    assert(m.values.sum <= 3L * unit, "integer floors must only ever lose mass")
  }

  test("in-degree skew concentrates rank: a sink every node feeds outranks its feeders") {
    val nodes = (1L to 6L).toDF("node")
    val edges = (1L to 5L).map(i => (i, 6L)).toDF("src", "dst")
    val m = PageRank.run(nodes, edges, iters = 3, unit = unit).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(i => m(6L) > m(i)), s"sink did not accumulate rank: $m")
  }

  test("lineage truncation is semantics-free: 5 supersteps match a driver-side replay bit-for-bit") {
    // localCheckpoint placement must never change a rank (it only
    // truncates the plan): 5 supersteps truncate after steps 2 and 4 and
    // must replay the driver-side recurrence's identical Longs
    val ns = 0L to 9L
    val es = ns.flatMap(n => Seq(1L, 2L, 3L).map(i => (n, (n * 7 + i * 13) % 10)))
    val iters = 5
    val m = PageRank.run(ns.toDF("node"), es.toDF("src", "dst"), iters, unit)
      .as[(Long, Long)].collect().toMap
    val ref = refRanks(ns, es, ns.toSet, iters)
    assert(m == ref, s"truncated run diverged from the driver-side replay: $m vs $ref")
  }

  test("entry-time overflow guard rejects |V|*unit combinations that could overflow 85*incoming") {
    val nodes = (1L to 200L).toDF("node")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // 85 * 200 * 10^15 > Long.MaxValue (~9.22e18) — must throw at entry,
    // not corrupt ranks mid-superstep
    val e = intercept[IllegalArgumentException] {
      PageRank.run(nodes, edges, iters = 1, unit = 1000000000000000L)
    }
    assert(e.getMessage.contains("overflows"), e.getMessage)
  }

  test("personalized: teleport lands only on seeds; unreachable nodes are exactly 0") {
    // seed 1 → 2 → 3 (chain), node 4 isolated: mass can only flow
    // downhill from the seed, so 4 must be EXACTLY 0 (the "not in this
    // community" certificate) while the whole chain is positive
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val m = PageRank.personalized(nodes, edges, seeds, iters = 6, unit = unit)
      .as[(Long, Long)].collect().toMap
    assert(m(4L) == 0L, s"unreachable node got mass: ${m(4L)}")
    assert(m(1L) > 0 && m(2L) > 0 && m(3L) > 0, s"chain not reached: $m")
    // proximity ordering: the seed outranks its 1-hop, which outranks 2-hop
    assert(m(1L) > m(2L) && m(2L) > m(3L), s"proximity ordering broken: $m")
    // floors + dangling leak only — never exceed the seeded start mass
    assert(m.values.sum <= unit, "mass exceeded |S|*unit")
  }

  test("personalized: seed recurrence is exact, and cadence is semantics-free") {
    // a seed with a self-loop keeps all its mass: r' = base + (85·r) div 100
    val nodes = Seq(1L, 2L).toDF("node")
    val edges = Seq((1L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val m = PageRank.personalized(nodes, edges, seeds, iters = 5, unit = unit)
      .as[(Long, Long)].collect().toMap
    var r = unit
    (1 to 5).foreach(_ => r = base + (85L * r) / 100L)
    assert(m(1L) == r, s"seed rank ${m(1L)} disagrees with the exact recurrence $r")
    assert(m(2L) == 0L)
    // truncation parity on a real-ish graph: 6 supersteps truncate after
    // steps 2 and 4 and must equal the driver-side replay
    val ns = 0L to 9L
    val es = ns.flatMap(n => Seq(1L, 2L, 3L).map(i => (n, (n * 7 + i * 13) % 10)))
    val got = PageRank.personalized(ns.toDF("node"), es.toDF("src", "dst"), Seq(0L, 5L).toDF("node"),
      iters = 6, unit = unit).as[(Long, Long)].collect().toMap
    assert(got == refRanks(ns, es, Set(0L, 5L), iters = 6), "truncation changed a personalized rank")
  }
}
