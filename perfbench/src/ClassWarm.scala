package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}

/** Loads the classes the workloads load, for a JVM started with
  * `-XX:ArchiveClassesAtExit`: one tiny untraced run of the workloads
  * that between them touch Parquet, Spark SQL codegen, shuffles and the
  * program's index, vector and text layers. The archive it leaves lets
  * every later run map those classes instead of loading them from the
  * jars, which halves the time from process start to a ready session.
  *
  * {{{ perfbench.ClassWarm --work-dir <dir> }}} — exits 1 if a run failed. */
object ClassWarm {
  def main(args: Array[String]): Unit = {
    val workDir = Main.parse(args)("work-dir")
    val codes = Seq(IvfBulk, DedupDocs).map { wl =>
      Main.runOne(wl, 1L, 0.0, trace = false, workDir, Size.Tiny, new PrintStream(new ByteArrayOutputStream()))
    }
    System.exit(if (codes.forall(_ == 0)) 0 else 1)
  }
}
