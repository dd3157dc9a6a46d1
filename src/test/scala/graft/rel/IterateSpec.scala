package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class IterateSpec extends SparkSpec {
  import spark.implicits._

  test("untilFixpoint stops on the first round that flags no row and returns a stored leaf without `changed`") {
    // x climbs by one a round up to i: round r flags the rows with i >= r,
    // so rounds 1..4 flag 4, 3, 2, 1 rows and round 5 is the first to flag
    // none
    val init = (0L to 4L).map(i => (i, 0L)).toDF("i", "x")
    var steps = 0
    val out = Iterate.untilFixpoint(init) { s =>
      steps += 1
      val next = least(col("x") + 1L, col("i"))
      s.select(col("i"), next.as("x"), (next =!= col("x")).as("changed"))
    }
    assert(steps == 5, s"step ran $steps times")
    assert(out.columns.toSeq == Seq("i", "x"))
    assert(out.as[(Long, Long)].collect().toMap == (0L to 4L).map(i => i -> i).toMap)
    out.queryExecution.analyzed match {
      case l: LogicalRDD => assert(l.rdd.isCheckpointed, "the returned leaf is not stored")
      case other         => fail(s"the returned frame is not one LogicalRDD:\n$other")
    }
  }

  test("untilFixpoint runs a step that flags nothing once") {
    val init = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    var steps = 0
    val out = Iterate.untilFixpoint(init) { s =>
      steps += 1
      s.withColumn("changed", lit(false))
    }
    assert(steps == 1, s"step ran $steps times")
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }
}
