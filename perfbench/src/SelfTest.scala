package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import scala.collection.mutable

/** The benchmark's own tests: the percentile rule, span self-time
  * arithmetic, attribution of listener counters to spans, and a
  * tiny-size smoke run of every workload, traced and untraced.
  *
  * {{{ perfbench.SelfTest --work-dir <dir> }}} — exits 1 on any failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) passed += 1
    else { failures += s"$name $detail"; System.err.println(s"FAIL $name $detail") }

  def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def percentileRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble).reverse
    expect("tail of 100 is p90 = 90", Stats.tail(xs) == Some((90.0, 90.0)), s"${Stats.tail(xs)}")
    expect("tail needs more than 10 samples", Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t11 = Stats.tail((1 to 11).map(_.toDouble))
    expect("tail of 11 is the minimum", t11.exists(t => near(t._2, 1.0) && near(t._1, 100.0 / 11)), s"$t11")
    expect("tail of 20 leaves 10 beyond", Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    expect("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  def selfTime(): Unit = {
    val op = Span(0, "op", -1, 0, 0, 100)
    val kids = Seq(Span(1, "a", 0, 0, 10, 30), Span(2, "b", 0, 0, 20, 50), Span(3, "c", 0, 0, 90, 120))
    expect("union of overlapping children", near(Spans.unionLen(kids.map(k => (k.start, k.end)), 0, 100), 50))
    expect("self time subtracts covered time once", near(Spans.selfMs(op, kids), 50), s"${Spans.selfMs(op, kids)}")
    expect("self time without children", near(Spans.selfMs(op, Nil), 100))
    expect("disjoint children", near(Spans.selfMs(op, Seq(Span(1, "a", 0, 0, 0, 10), Span(2, "b", 0, 0, 40, 60))), 70))
  }

  def attribution(): Unit = {
    val spans = IndexedSeq(
      Span(0, "op", -1, 0, 0, 100), Span(1, "call.b", 0, 0, 10, 50), Span(2, "call.c", 0, 0, 60, 90))
    val jobs = Seq(
      JobRec(1, Some(1), 20, 40, 7, 100), // tagged, inside its span
      JobRec(2, Some(1), 70, 85, 5, 10), // stale tag (pooled thread): time window
      JobRec(3, None, 95, 99, 1, 1), // untagged, between calls: the operation
      JobRec(4, None, 200, 210, 1, 1), // outside every span
      JobRec(5, Some(2), 65, 95, 2, 0)) // tagged, runs past its span's end
    val a = Spans.attribute(spans, jobs)
    expect("tagged job to its span", a.get(1).exists(x => x.jobs == 1 && x.shuffleBytes == 100), s"${a.get(1)}")
    expect("stale tag falls back to the window", a.get(2).exists(_.jobs == 2), s"${a.get(2)}")
    expect("counters add up per span", a.get(2).exists(x => near(x.execRunMs, 7) && x.shuffleBytes == 10))
    expect("job cover is clipped to the span", a.get(2).exists(x => near(x.jobCoverMs, 25)), s"${a.get(2)}")
    expect("untagged gap job to the operation", a.get(0).exists(_.jobs == 1))
    expect("jobs outside spans are dropped", a.values.map(_.jobs).sum == 4)
  }

  /** The listener against a live session: a tagged job, a job from a
    * thread spawned inside the call (inherits the tag) and one from a
    * thread spawned before it (stale tag, attributed by time). */
  def listener(workDir: String): Unit = {
    val spark = Main.session(2, workDir)
    try {
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val r = new Run(spark, tracer, Size.Tiny, workDir)
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      r.op("op") {
        r.call("warm")(pool.submit(new Runnable { def run(): Unit = () }).get())
      }
      r.op("op") {
        r.call("one")(spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect())
        r.call("two") {
          val t = new Thread(() => spark.range(10).count()); t.start(); t.join()
          pool.submit(new Runnable { def run(): Unit = spark.range(10).count() }).get()
        }
      }
      val nested = r.op("nested")(r.call("outer")(r.call("inner")(1)))
      pool.shutdown()
      expect("a call opened inside another call fails its operation", nested.isEmpty && r.failed == 1, s"failed ${r.failed}")
      val jobs = tracer.drainedJobs()
      val spans = tracer.spans
      val a = Spans.attribute(spans, jobs)
      def of(name: String) = spans.filter(_.name == name).flatMap(s => a.get(s.id))
      def id(name: String) = spans.find(_.name == name).get.id
      val stale = jobs.count(_.tag.contains(id("warm")))
      val inherited = jobs.count(_.tag.contains(id("two")))
      expect("listener saw the shuffle job", of("one").exists(x => x.jobs >= 1 && x.shuffleBytes > 0 && x.execRunMs >= 0), s"${of("one")}")
      expect("pooled thread carries a stale tag", stale >= 1, s"$jobs")
      expect("pooled and spawned jobs land in their call",
        inherited >= 1 && of("two").map(_.jobs).sum == stale + inherited, s"${of("two")} $jobs")
      expect("no job attributed to the empty call", of("warm").isEmpty)
    } finally spark.stop()
  }

  def smoke(workDir: String): Unit =
    for (wl <- Main.Workloads; trace <- Seq(false, true)) {
      val buf = new ByteArrayOutputStream()
      val t0 = System.nanoTime()
      val code = Main.runOne(wl, 7L, 0.0, trace, workDir, Size.Tiny, new PrintStream(buf, true))
      val out = buf.toString
      val last = out.trim.split("\n").last
      val want = if (trace) Main.Calls.map(_ + ".jobs") :+ "Dedup.lsh_precision" else Main.EndToEnd
      val missing = want.filterNot(n => last.contains("\"" + n + "\""))
      val label = s"smoke ${wl.name} trace=$trace"
      expect(label, code == 0 && last.startsWith("{\"correct\": true") && missing.isEmpty,
        s"exit $code, missing $missing\n$out")
      System.err.println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

  def main(args: Array[String]): Unit = {
    val workDir = Main.parse(args)("work-dir")
    percentileRule()
    selfTime()
    attribution()
    listener(workDir)
    smoke(workDir)
    println(s"selftest: $passed passed, ${failures.length} failed")
    failures.foreach(f => println(s"  FAIL $f"))
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
