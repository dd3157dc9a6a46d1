package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (suites would otherwise
  * each pay ~5 s of Spark startup). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  spark.sparkContext.setLogLevel("WARN")

  /** Count the shuffle exchanges a query actually executes. Walks the
    * final adaptive plan tree (descending into materialized query stages),
    * skipping `ReusedExchange` — a textual count over `plan.toString` is
    * brittle because AQE prints BOTH a Final and an Initial plan section,
    * double-counting every exchange and hiding reuse. Call after an
    * action so `isFinalPlan` holds. */
  def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case _: ReusedExchangeExec    => 0
      case s: ShuffleExchangeLike   => 1 + s.children.map(walk).sum
      case other                    => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Spark jobs started by `body` on this thread (and the threads it
    * spawns) and the shuffle bytes (read + written) of their tasks, counted
    * by a listener keyed on a local property. A sentinel job drains the
    * listener bus: events of one queue arrive in order. */
  def costOf[T](body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = s"jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stageBytes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { t =>
          seen.add(t)
          if (t == tag) e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          stageBytes.add(e.stageId -> (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "listener bus did not drain")
      val bytes = stageBytes.toArray.collect { case (st: Int, b: Long) if stages.contains(st) => b }.sum
      (out, seen.toArray.count(_ == tag), bytes)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
