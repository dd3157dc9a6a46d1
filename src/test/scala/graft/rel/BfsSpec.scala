package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BfsSpec extends SparkSpec {
  import spark.implicits._

  private def bfs(nodes: Seq[Long], edges: Seq[(Long, Long)], seeds: Seq[Long], hops: Int) =
    Bfs.run(nodes.toDF("node"), edges.toDF("src", "dst"), seeds.toDF("node"), maxHops = hops)
      .as[(Long, Int)].collect().toMap

  test("chain distances are exact; the horizon cuts at maxHops with -1 beyond") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfs(nodes, chain, Seq(1L), hops = 4) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // a 2-hop horizon strands the tail at -1 — the crawl-depth certificate
    assert(bfs(nodes, chain, Seq(1L), hops = 2) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> -1, 5L -> -1))
  }

  test("multi-source takes the NEAREST seed; duplicate edges, self-loops, off-set rows are harmless") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 2L), (4L, 3L), (2L, 9L)) // dup, loop, exits the set
    val got = bfs(nodes, edges, Seq(1L, 4L, 99L), hops = 3) // seed 99 not a node
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("direction matters and checkpoint cadence is semantics-free") {
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((1L, 2L), (3L, 2L)) // 3 feeds 2 but is not fed
    assert(bfs(nodes, edges, Seq(1L), hops = 3) == Map(1L -> 0, 2L -> 1, 3L -> -1))
    val ns = (0L to 19L).toSeq
    val es = ns.flatMap(n => Seq(1L, 2L).map(i => (n, (n * 3 + i * 7) % 20)))
    // 8 hops truncate lineage after hops 2, 4 and 6: the labels must equal
    // a driver-side replay of the same frontier recurrence
    var dist = Map(0L -> 0)
    (0 until 8).foreach { i =>
      dist ++= es.collect { case (s, d) if dist.get(s).contains(i) && !dist.contains(d) => d -> (i + 1) }
    }
    assert(bfs(ns, es, Seq(0L), hops = 8) == ns.map(n => n -> dist.getOrElse(n, -1)).toMap,
      "truncation changed a BFS label")
  }
}
