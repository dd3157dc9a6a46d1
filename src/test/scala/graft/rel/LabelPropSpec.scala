package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
    df.select(col("node"), col("label")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("seeds clamp, ties break to the smallest label, spread is one hop per superstep, unreached stays null") {
    val nodes = (1L to 6L).toDF("node")
    val seeds = Seq((1L, 10L), (2L, 20L)).toDF("node", "label")
    // 3 hears both seeds (tie -> min label 10); 4 hears only 2; the vote
    // 2->1 must NOT overwrite seed 1; 5 is two hops away via 3; 6 unreached
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L), (2L, 1L), (3L, 5L)).toDF("src", "dst")
    val m1 = labels(LabelProp.run(nodes, seeds, edges, iters = 1))
    assert(m1 == Map(1L -> Some(10L), 2L -> Some(20L), 3L -> Some(10L),
      4L -> Some(20L), 5L -> None, 6L -> None), s"after 1 superstep: $m1")
    val m2 = labels(LabelProp.run(nodes, seeds, edges, iters = 2))
    assert(m2(5L) == Some(10L), s"two-hop node not reached on round 2: $m2")
    assert(m2(6L) == None, "unreached node must stay unlabeled")
  }

  test("majority beats the smaller label; tiebreak only applies at equal counts") {
    val nodes = (1L to 4L).toDF("node")
    val seeds = Seq((1L, 5L), (2L, 9L), (3L, 9L)).toDF("node", "label")
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val m = labels(LabelProp.run(nodes, seeds, edges, iters = 1))
    assert(m(4L) == Some(9L), s"majority label 9 (2 votes) must beat 5 (1 vote): $m")
  }

  test("chain propagation is a fixed point once every node is reached — extra rounds change nothing") {
    val nodes = (1L to 3L).toDF("node")
    val seeds = Seq((1L, 7L)).toDF("node", "label")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val m2 = labels(LabelProp.run(nodes, seeds, edges, iters = 2))
    val m5 = labels(LabelProp.run(nodes, seeds, edges, iters = 5))
    assert(m2 == Map(1L -> Some(7L), 2L -> Some(7L), 3L -> Some(7L)), s"$m2")
    assert(m5 == m2, s"fixed point drifted: $m5 vs $m2")
  }

  test("lineage truncation is semantics-free: 5 supersteps match a driver-side replay exactly") {
    val ns = 0L to 19L
    val sd = (0L to 3L).map(n => n -> n % 2).toMap
    val es = ns.flatMap(n => Seq(1L, 2L).map(i => (n, (n * 3 + i * 7) % 20)))
    val iters = 5
    // 5 supersteps truncate after steps 2 and 4; the driver-side replay
    // runs the same vote recurrence with no plan at all
    var ref: Map[Long, Option[Long]] = ns.map(n => n -> sd.get(n)).toMap
    (1 to iters).foreach { _ =>
      val votes = es.flatMap { case (s, d) => ref(s).map(l => (d, l)) }.groupBy(identity)
      val pick = votes.toSeq.groupBy(_._1._1).map { case (d, vs) =>
        d -> -vs.map { case ((_, l), hits) => (hits.size, -l) }.max._2
      }
      ref = ns.map(n => n -> sd.get(n).orElse(pick.get(n)).orElse(ref(n))).toMap
    }
    val m = labels(LabelProp.run(ns.toDF("node"), sd.toSeq.toDF("node", "label"), es.toDF("src", "dst"), iters))
    assert(m == ref, s"truncated run diverged from the driver-side replay: $m vs $ref")
  }
}
