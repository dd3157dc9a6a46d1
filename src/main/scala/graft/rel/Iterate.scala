package graft.rel

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The loops the iterative operators run their supersteps through.
  * [[rounds]] runs a fixed count ([[Bfs]], [[KCore]], [[LabelProp]],
  * [[PageRank]], [[graft.index.GraphSearch]]) and truncates their lineage;
  * only [[KCore.decompose]] truncates once more itself, before its assembly.
  *
  * Every step references its state ONCE, so an untruncated span of r
  * rounds is a linear r-deep plan, never a 2^r-leaf tree. An eager
  * `localCheckpoint` after every second round (never after the last: the
  * caller's own action materializes that) keeps each span a small flat
  * AQE query. The cadence is fixed, not a parameter: 2 measured best on
  * both the beam walk (v35 at sf0.1: no truncation 29.2 s, most of it
  * driver re-optimization; every hop 9-11 s; every second hop 4.1 s) and
  * the k-core peel (p19: 7.75 → 4.41 s going from 4 to 2), and
  * truncation never changes a value, only the plan. Eager on purpose: a
  * lazy checkpoint measured the same wall, but its RDDs then compute
  * after their query execution is unreachable and every task logs a
  * stack trace for the collected SQL-metric accumulators.
  *
  * [[untilFixpoint]] runs until a superstep changes nothing (the
  * connected-components operators in [[graft.text.Dedup]]) and stores the
  * state EVERY round: that store is also the round's convergence test.
  */
object Iterate {

  /** Apply `step(state, i)` for `i = 0 until n`, starting from `init`. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    var i = 0
    while (i < n) {
      state = step(state, i)
      i += 1
      if (i % 2 == 0 && i < n) state = state.localCheckpoint()
    }
    state
  }

  /** Apply `step` from `init` (stored first) until a round flags no row.
    * `step` returns the next state with a boolean `changed` column; the
    * round's one store job drops it and counts the rows where it is true.
    * Returns the last stored state, one `LogicalRDD`; no round bound. A
    * retried task over-counts only in a round that flagged rows: the stop
    * never moves. */
  def untilFixpoint(init: DataFrame)(step: DataFrame => DataFrame): DataFrame = {
    val spark = init.sparkSession
    val flagged = spark.sparkContext.longAccumulator("Iterate.untilFixpoint.changed")
    def store(df: DataFrame): DataFrame = {
      val ci = df.schema.fieldIndex("changed")
      val kept = df.schema.fields.toSeq.zipWithIndex.filter(_._2 != ci)
      val rows = df.queryExecution.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(kept.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
        it.map { r =>
          if (!r.isNullAt(ci) && r.getBoolean(ci)) flagged.add(1L)
          proj(r).copy(): InternalRow
        }
      }
      rows.localCheckpoint()
      rows.count()
      // built only now: a frame planned before the store would keep the
      // partitions it saw, and through them the previous state
      GraftSqlBridge.internalCreateDataFrame(spark, rows, StructType(kept.map(_._1)))
    }
    var state = store(init.withColumn("changed", lit(false)))
    do {
      flagged.reset()
      state = store(step(state))
    } while (flagged.value > 0L)
    state
  }
}
