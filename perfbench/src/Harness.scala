package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Stats {
  /** Median (mean of the two middle values on an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least `beyond` samples above it:
    * over n ascending samples that is the value at 0-based rank
    * n - beyond - 1, the (100·(n - beyond)/n)th percentile. Returns
    * (percentile, value), or None with `beyond` or fewer samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else Some((100.0 * (n - beyond) / n, xs.sorted.apply(n - beyond - 1)))
  }
}

/** One reported number: value, unit and the samples behind it. */
final case class Metric(value: Double, unit: String, n: Int, note: String = "")

/** The operations, checks and metrics of one workload run. Operation
  * latencies are kept per operation kind; a failed operation counts as
  * attempted and failed, and enters its latency samples as
  * `Double.MaxValue`, so it misses every latency limit. */
final class Run(val spark: SparkSession, val tracer: Tracer, val size: Size, val dataDir: String) {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val record = mutable.LinkedHashMap.empty[String, Metric]
  /** Traced-run counters behind the per-layer ratios. */
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def call[T](name: String)(body: => T): T = tracer.call(name)(body)

  /** Runs and times one operation; None when it threw. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val samples = latMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
    try {
      val (r, ms) = tracer.op(name)(body)
      samples += ms
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        samples += Double.MaxValue
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A correctness check; a failed one counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val d = if (ok) "" else detail
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED $d")
    }
    checks += ((name, ok, d))
  }

  def samples(name: String): Seq[Double] = latMs.get(name).map(_.toSeq).getOrElse(Nil)

  /** Total latency of the client loop's operations (all but the build
    * and the final recovery), in seconds. */
  def loopBusySec: Double =
    latMs.filter { case (op, _) => op != "build" && op != "recover" }.values.flatten.filter(_ < Double.MaxValue).sum / 1e3

  def put(name: String, value: Double, unit: String, n: Int, note: String = ""): Unit =
    record(name) = Metric(value, unit, n, note)

  def putP50(name: String, op: String*): Unit = {
    val xs = op.flatMap(samples)
    if (xs.nonEmpty) put(name, Stats.median(xs), "ms", xs.length)
  }

  def putTail(name: String, op: String): Unit =
    Stats.tail(samples(op)).foreach { case (p, v) =>
      put(name, v, "ms", samples(op).length, f"p$p%.1f")
    }

  def correct: Boolean = failed == 0 && checks.forall(_._2)
}

/** Workload scale: `Full` is the benchmark, `Tiny` the seconds-long
  * smoke size the self-test runs. */
sealed trait Size
object Size {
  case object Full extends Size
  case object Tiny extends Size
}

/** A workload: `setup` builds its inputs and state (run several times,
  * its median is `setup_s`), `run` drives the client loop. A traced run
  * runs exactly `rounds` loop rounds, so its counts repeat; an untraced
  * run runs at least `rounds` and keeps starting rounds until `seconds`
  * have passed. */
trait Workload {
  type State
  def name: String
  /** The corpus sizes at `size`, for the run record. */
  def inputs(size: Size): String
  def setup(r: Run, seed: Long): State
  /** Untimed: runs each timed call once so JIT and codegen are warm. */
  def warmup(r: Run, st: State): Unit = ()
  def run(r: Run, st: State, keepGoing: Int => Boolean): Unit
  def rounds: Int
  /** Per-run cleanup of whatever `setup` left on disk or in caches. */
  def dispose(r: Run, st: State): Unit = ()
}
