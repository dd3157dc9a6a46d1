package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    KCore.decompose(edges.toDF("src", "dst"), k, rounds)
      .select(col("node"), col("cdeg"), col("converged"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  /** Driver-side replay of the same peel recurrence. */
  private def refCore(edges: Seq[(Long, Long)], k: Int, rounds: Int) = {
    val canon = edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    def degrees(live: Set[Long]) =
      canon.collect { case (u, v) if live(u) && live(v) => Seq(u, v) }.flatten
        .groupBy(identity).map { case (n, hits) => n -> hits.size.toLong }
    var live = canon.flatMap { case (u, v) => Seq(u, v) }.toSet
    (1 to rounds).foreach { _ =>
      val d = degrees(live)
      live = live.filter(n => d.getOrElse(n, 0L) >= k)
    }
    val d = degrees(live)
    val converged = if (live.forall(n => d.getOrElse(n, 0L) >= k)) 1L else 0L
    live.toSeq.sorted.map(n => (n, d.getOrElse(n, 0L), converged))
  }

  test("triangle survives the 2-core, pendant and isolated chain peel away") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 6L))
    assert(core(edges, k = 2, rounds = 4) ==
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("cascading peel empties a path graph; an insufficient round budget reports converged = 0") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // full cascade: ends fall, then their neighbors, then the middle
    assert(core(path, k = 2, rounds = 4) == Seq.empty)
    // stopping after 2 rounds strands node 3 with zero surviving
    // neighbors — it must surface with cdeg 0 and converged 0, not vanish
    assert(core(path, k = 2, rounds = 2) == Seq((3L, 0L, 0L)))
  }

  test("K5 is its own 4-core; fixpoint is idempotent and checkpoint cadence is semantics-free") {
    val k5 = for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)
    val want = (1L to 5L).map(n => (n, 4L, 1L))
    assert(core(k5, k = 4, rounds = 2) == want)
    assert(core(k5, k = 4, rounds = 6) == want, "extra rounds changed a fixpoint")
    // 6 rounds truncate lineage after rounds 2 and 4: the survivors must
    // equal a driver-side replay of the same peel
    assert(core(k5, k = 4, rounds = 6) == refCore(k5, k = 4, rounds = 6))
  }

  test("direction, duplication, and self-loops do not change the core") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val messy = tri ++ tri.map(_.swap) ++ Seq((1L, 1L), (2L, 2L), (1L, 2L))
    assert(core(messy, k = 2, rounds = 3) == core(tri, k = 2, rounds = 3))
  }
}
