package graft.rel

import org.apache.spark.sql.DataFrame

/** The one loop the iterative operators ([[Bfs]], [[KCore]], [[LabelProp]],
  * [[PageRank]], [[graft.index.GraphSearch]]) run their supersteps
  * through, and the only place they truncate lineage.
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
}
