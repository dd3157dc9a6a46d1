package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark driver: one workload per process.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work-dir <dir>
  * }}}
  *
  * Prints every metric by name with unit and sample count, then, as the
  * last stdout line, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). Exits 1 when any check failed. */
object Main {
  val Workloads: Seq[Workload] = Seq(IvfOnline, IvfBulk, HnswLog, DedupDocs)

  /** End-to-end metrics every workload reports, in output order. A
    * latency median is not among them: `ivf_online`'s search p50 moved
    * 3.0–5.5 ms between runs of one seed, past any affordable bound. */
  val EndToEnd: Seq[String] = Seq("setup_s", "throughput_per_s", "recall", "live_heap_mb")

  /** The calls the traced run spans, per layer. */
  val Calls: Seq[String] = Seq(
    "IvfBuild.build", "IvfSearch.chooseProbesLocal", "IvfSearch.scanTopKDriver", "IvfSearch.collectMirror",
    "IvfSearch.search", "IvfMutate.insert", "IvfMutate.delete", "IvfMutate.checkpoint", "IvfMaintain.maintain",
    "Hnsw.build", "Hnsw.save", "Hnsw.insertWithDelta", "Hnsw.deleteWithDelta", "Hnsw.saveDelta", "Hnsw.search",
    "Hnsw.compact", "Hnsw.loadLog",
    "Dedup.exactGroups", "Dedup.minhashLsh", "Dedup.sparseJaccardPairs", "Dedup.connectedComponents")

  val SetupPasses = 2

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments near ${a.mkString(" ")}")
    }.toMap

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v).replace("E", "e")

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; known: ${Workloads.map(_.name).mkString(", ")}"))
    val code = runOne(wl, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
      opts("work-dir"), Size.Full, System.out)
    System.exit(code)
  }

  /** Runs one workload in a fresh session and prints its result to `out`;
    * returns the process exit code. */
  def runOne(wl: Workload, seed: Long, seconds: Double, trace: Boolean, workDir: String, size: Size,
      out: java.io.PrintStream): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val runDir = new File(s"$workDir/run-${wl.name}-$seed-${ProcessHandle.current().pid()}")
    runDir.mkdirs()
    val spark = session(cpus, workDir)
    try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val r = new Run(spark, tracer, size, runDir.getPath)
      val setupSec = mutable.ArrayBuffer.empty[Double]
      var st: wl.State = null.asInstanceOf[wl.State]
      (1 to (if (size == Size.Full) SetupPasses else 1)).foreach { i =>
        if (st != null) wl.dispose(r, st)
        val t0 = System.nanoTime()
        st = wl.setup(r, seed)
        setupSec += (System.nanoTime() - t0) / 1e9
      }
      val tw = System.nanoTime()
      wl.warmup(r, st)
      val warmSec = (System.nanoTime() - tw) / 1e9
      val firstOpSec = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

      System.gc() // every loop starts from the same heap state
      val t0 = System.nanoTime()
      wl.run(r, st, round => round < wl.rounds || (!trace && (System.nanoTime() - t0) / 1e9 < seconds))
      val loopSec = (System.nanoTime() - t0) / 1e9

      // Spark's ContextCleaner frees unreferenced blocks after a GC finds
      // them, so one reading depends on timing: take the least of three
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      r.put("setup_s", Stats.median(setupSec.toSeq), "s", setupSec.length)
      r.put("live_heap_mb", heapMb, "MB", 1)
      r.put("setup_first_s", firstOpSec, "s", 1, "process start to first timed operation")
      r.put("warmup_s", warmSec, "s", 1)
      r.put("loop_s", loopSec, "s", 1)
      r.put("loop_busy_s", r.loopBusySec, "s", r.latMs.values.map(_.length).sum)

      val metrics: Seq[(String, Option[Metric])] =
        if (!trace) EndToEnd.map(n => n -> r.record.get(n))
        else perLayer(r, new File(runDir.getParentFile, s"spans-${wl.name}-$seed.json"), wl.name, seed, out)
          .map { case (n, m) => n -> Some(m) }
      val unmeasured = metrics.collect { case (n, None) => n }
      r.check("every_metric_measured", unmeasured.isEmpty, s"no samples for ${unmeasured.mkString(", ")}")

      out.println(s"# config " + config(spark, cpus, wl, seed, seconds, trace, size))
      r.record.foreach { case (n, m) =>
        out.println(f"metric ${n}%-28s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}%-5d ${m.note}")
      }
      r.latMs.foreach { case (op, xs) => out.println(f"ops    $op%-28s n=${xs.length}") }
      r.checks.foreach { case (n, ok, d) => out.println(s"check  ${if (ok) "ok  " else "FAIL"} $n $d") }
      wl.dispose(r, st)
      val json = metrics.map { case (n, m) =>
        s"${jsonStr(n)}: {\"value\": ${m.map(x => jsonNum(x.value)).getOrElse("null")}, \"unit\": ${jsonStr(m.fold("")(_.unit))}}"
      }
      out.println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${json.mkString(", ")}}}""")
      if (r.correct) 0 else 1
    } finally {
      graft.CacheScope.clear() // process-wide: would outlive this session
      spark.stop()
      deleteTree(runDir)
    }
  }

  def config(spark: SparkSession, cpus: Int, wl: Workload, seed: Long, seconds: Double, trace: Boolean, size: Size): String = {
    val c = spark.conf
    Seq(
      "workload" -> jsonStr(wl.name), "seed" -> seed.toString, "seconds" -> jsonNum(seconds),
      "trace" -> trace.toString, "size" -> jsonStr(size.toString.toLowerCase),
      "cpus" -> cpus.toString, "master" -> jsonStr(spark.sparkContext.master),
      "shuffle_partitions" -> jsonStr(c.get("spark.sql.shuffle.partitions")),
      "aqe" -> jsonStr(c.get("spark.sql.adaptive.enabled")),
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> jsonStr(System.getProperty("java.version")), "spark" -> jsonStr(spark.version),
      "scala" -> jsonStr(scala.util.Properties.versionNumberString),
      "inputs" -> jsonStr(wl.inputs(size))
    ).map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
  }

  /** Per-layer metrics from the traced run; writes the span file and
    * prints the span table. */
  def perLayer(r: Run, spanFile: File, wl: String, seed: Long, out: java.io.PrintStream): Seq[(String, Metric)] = {
    val spans = r.tracer.spans
    val jobs = r.tracer.drainedJobs()
    val agg = Spans.attribute(spans, jobs)
    val calls = spans.filter(_.parent >= 0)
    val ops = spans.filter(_.parent < 0)
    val rows = Calls.map { name =>
      val ss = calls.filter(_.name == name)
      val as = ss.flatMap(s => agg.get(s.id))
      val busy = ss.map(_.durMs).sum
      name -> Seq(
        "busy_ms" -> Metric(busy, "ms", ss.length),
        "driver_ms" -> Metric(busy - as.map(_.jobCoverMs).sum, "ms", ss.length),
        "jobs" -> Metric(as.map(_.jobs).sum.toDouble, "count", ss.length),
        "exec_run_ms" -> Metric(as.map(_.execRunMs).sum, "ms", ss.length),
        "shuffle_bytes" -> Metric(as.map(_.shuffleBytes).sum.toDouble, "bytes", ss.length))
    }
    val c = r.counters
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ratios = Seq(
      "IvfSearch.nprobe_per_query" -> Metric(ratio(c("nprobe"), c("queries")), "probes/query", c("queries").toInt),
      "IvfSearch.scan_fraction" -> Metric(ratio(c("scanned"), c("live")), "ratio", c("queries").toInt),
      "IvfMaintain.husk_partitions" -> Metric(c("husks"), "count", r.samples("maintain").length),
      "Hnsw.upsert_rows_per_row" -> Metric(ratio(c("upsert_rows"), c("mutated_rows")), "rows/row", c("mutated_rows").toInt),
      "Hnsw.log_epochs_folded" -> Metric(c("epochs_folded"), "count", r.samples("compact").length + r.samples("recover").length),
      "Dedup.lsh_precision" -> Metric(ratio(c("lsh_verified"), c("lsh_pairs")), "ratio", c("lsh_pairs").toInt))

    out.println(f"# span table ($wl, seed $seed): ${calls.length} call spans in ${ops.length} operations, " +
      f"${jobs.length} jobs (${jobs.length - agg.values.map(_.jobs).sum} outside any operation)")
    out.println(f"# ${"call"}%-28s ${"calls"}%6s ${"busy_ms"}%10s ${"driver_ms"}%10s ${"jobs"}%6s ${"exec_run_ms"}%12s ${"shuffle_bytes"}%14s")
    rows.filter(_._2.head._2.n > 0).foreach { case (name, ms) =>
      val v = ms.map(_._2.value)
      out.println(f"# $name%-28s ${ms.head._2.n}%6d ${v(0)}%10.1f ${v(1)}%10.1f ${v(2)}%6.0f ${v(3)}%12.1f ${v(4)}%14.0f")
    }
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, os) =>
      val self = os.map(o => Spans.selfMs(o, calls.filter(_.op == o.id))).sum
      out.println(f"# op $name%-25s ${os.length}%6d ${os.map(_.durMs).sum}%10.1f self_ms=$self%.1f")
    }
    ratios.foreach { case (n, m) => out.println(f"# $n%-28s ${m.value}%.4f ${m.unit}") }
    val overheadMs = (r.tracer.selfNs + r.tracer.ledger.map(_.selfNs).getOrElse(0L)) / 1e6
    r.put("trace_overhead_ms", overheadMs, "ms", calls.length, "span bookkeeping + listener callbacks")
    out.println(f"# tracing overhead: $overheadMs%.1f ms of recording (${100 * overheadMs / math.max(1e-9, ops.map(_.durMs).sum)}%.2f%% of " +
      "operation time); for the end-to-end difference run run.py --overhead")

    spanFile.getParentFile.mkdirs()
    val w = new PrintWriter(spanFile)
    try {
      w.println("[")
      w.println(spans.map { s =>
        val a = agg.get(s.id)
        s"""{"id": ${s.id}, "name": ${jsonStr(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""start_ms": ${jsonNum(s.start)}, "end_ms": ${jsonNum(s.end)}, "jobs": ${a.map(_.jobs).getOrElse(0)}, """ +
          s""""exec_run_ms": ${jsonNum(a.map(_.execRunMs).getOrElse(0.0))}, "shuffle_bytes": ${a.map(_.shuffleBytes).getOrElse(0L)}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
    out.println(s"# spans written to ${spanFile.getPath}")

    rows.flatMap { case (name, ms) => ms.map { case (q, m) => s"$name.$q" -> m } } ++ ratios
  }
}
