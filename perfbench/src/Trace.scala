package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Times are milliseconds on the wall-clock axis
  * (derived from `System.nanoTime` against one wall-clock anchor), so
  * they compare directly with listener event times. `parent` is -1 for
  * an operation span; a call span's parent is its operation, and `op`
  * is the operation id every span of that operation shares. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double) {
  def durMs: Double = end - start
}

/** One Spark job as the listener saw it: the span tag set on the
  * submitting thread (if any), its wall interval, and the executor run
  * time and shuffle bytes of the tasks of its stages. */
final case class JobRec(id: Int, tag: Option[Int], start: Double, end: Double, execRunMs: Double, shuffleBytes: Long)

/** Per-span totals of the jobs attributed to it. */
final case class JobAgg(jobs: Int, execRunMs: Double, shuffleBytes: Long, jobCoverMs: Double)

object Spans {
  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def unionLen(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durMs - unionLen(children.map(c => (c.start, c.end)), span.start, span.end)

  /** The span a job belongs to. A job whose tag names a span that was
    * open when the job started belongs to that span. Otherwise (no tag,
    * or a stale tag inherited by a pooled thread) it falls back to the
    * time window: the innermost span open at the job's start, a call
    * span before its operation span. */
  def owner(job: JobRec, spans: IndexedSeq[Span], byId: Map[Int, Span]): Option[Int] = {
    def open(s: Span) = s.start <= job.start && job.start <= s.end
    job.tag.flatMap(byId.get).filter(open).map(_.id).orElse {
      val covering = spans.filter(open)
      if (covering.isEmpty) None
      else Some(covering.maxBy(s => (if (s.parent >= 0) 1 else 0, s.start)).id)
    }
  }

  /** Jobs, executor run time, shuffle bytes and job-covered time per
    * span; jobs outside every span are left out. */
  def attribute(spans: IndexedSeq[Span], jobs: Seq[JobRec]): Map[Int, JobAgg] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.flatMap(j => owner(j, spans, byId).map(_ -> j)).groupBy(_._1).map { case (sid, js) =>
      val s = byId(sid)
      val recs = js.map(_._2)
      sid -> JobAgg(
        recs.size,
        recs.map(_.execRunMs).sum,
        recs.map(_.shuffleBytes).sum,
        unionLen(recs.map(j => (j.start, j.end)), s.start, s.end))
    }
  }
}

/** Listener that records every job, and the task counters of its
  * stages, with the span tag of the thread that submitted it. */
final class Ledger extends SparkListener {
  private final class Rec(val tag: Option[Int], val start: Double, var end: Double)
  private val jobs = mutable.LinkedHashMap.empty[Int, Rec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val runMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
  private val shuffle = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  /** Time spent in this listener's callbacks, ns: part of the tracing overhead. */
  @volatile var selfNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    selfNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
    jobs(e.jobId) = new Rec(tag, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      runMs(j) += m.executorRunTime.toDouble
      shuffle(j) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  def ended(jobId: Int): Boolean = synchronized(jobs.get(jobId).exists(!_.end.isNaN))

  def records: Seq[JobRec] = synchronized {
    jobs.toSeq.map { case (id, r) =>
      JobRec(id, r.tag, r.start, if (r.end.isNaN) r.start else r.end, runMs(id), shuffle(id))
    }
  }
}

/** Records operation spans always (they carry the end-to-end timings)
  * and call spans only when tracing. While a call span is open its id
  * is the submitting thread's Spark local property, which the
  * [[Ledger]] reads back from each job. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ns0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private def now(): Double = wall0 + (System.nanoTime() - ns0) / 1e6

  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var openOp: Option[(Int, String, Double)] = None
  private var openCall: Option[String] = None
  /** Time the client thread spent recording call spans, ns. */
  var selfNs = 0L

  val ledger: Option[Ledger] =
    if (enabled) { val l = new Ledger; sc.addSparkListener(l); Some(l) } else None

  def spans: IndexedSeq[Span] = done.toIndexedSeq

  /** Times `body` as an operation; returns its result and latency in ms. */
  def op[T](name: String)(body: => T): (T, Double) = {
    require(openOp.isEmpty, s"operation $name opened inside ${openOp.get._2}")
    val id = nextId; nextId += 1
    val t0 = now()
    openOp = Some((id, name, t0))
    try {
      val r = body
      val t1 = now()
      done += Span(id, name, -1, id, t0, t1)
      (r, t1 - t0)
    } finally openOp = None
  }

  /** Times one call into the program, when tracing inside an operation.
    * Call spans of one operation must not overlap: a call opened inside
    * another would bill its time to both. */
  def call[T](name: String)(body: => T): T = openOp match {
    case Some((opId, _, _)) if enabled =>
      require(openCall.isEmpty, s"call $name opened inside ${openCall.get}")
      val b0 = System.nanoTime()
      val id = nextId; nextId += 1
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = now()
      openCall = Some(name)
      selfNs += System.nanoTime() - b0
      try body
      finally {
        val e0 = System.nanoTime()
        openCall = None
        done += Span(id, name, opId, opId, t0, now())
        sc.setLocalProperty(Tracer.SpanProp, prev)
        selfNs += System.nanoTime() - e0
      }
    case _ => body
  }

  /** All jobs so far, once the listener bus has delivered their events:
    * a sentinel job runs last, and events arrive in order. */
  def drainedJobs(): Seq[JobRec] = ledger match {
    case None => Nil
    case Some(l) =>
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, Tracer.Sentinel.toString)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Tracer.SpanProp, prev)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def sentinelDone = l.records.exists(j => j.tag.contains(Tracer.Sentinel) && l.ended(j.id))
      while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(20)
      l.records.filterNot(_.tag.contains(Tracer.Sentinel))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val Sentinel = -1
}
