#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest            # the benchmark's own tests
    python3 perfbench/run.py --overhead --workload <name> --seed <n> --seconds <s>

Run it from the repository root. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
in Spark's jars directory ($SPARK_HOME/jars, or the one beside the
spark-submit on PATH), so no build tool and no network are needed. Classes
are cached under .bench_build keyed by a hash of every source file, so only
the first run builds. The build ends with a class-data archive (JDK CDS) of
the classes a run loads; later runs map it, which halves JVM and Spark
start-up. Without it (a JDK that cannot write one) runs work as before.

The last line of standard output is the JSON result. The exit code is 0
when every correctness check passed, 1 when one failed, 2 when the program
cannot be built or run here.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions; the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail("no java on PATH")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    if not any(f.startswith("scala-compiler-") for f in os.listdir(jars)):
        fail(f"no scala-compiler jar in {jars}")
    return jars


def files_under(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files]
    return sorted(out)


def scala_files(d):
    return [f for f in files_under(d) if f.endswith(".scala")]


def run_child(cmd, timeout=None, capture=False):
    """Runs `cmd` in its own process group; on timeout, error or signal the
    whole group is killed and waited for before this returns or raises."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE if capture else sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def scalac(java, cp, out_dir, files):
    os.makedirs(out_dir)
    cmd = [java, "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out_dir] + files
    if run_child(cmd)[0] != 0:
        fail(f"compile failed ({len(files)} files into {out_dir})")


def jar_dir(src, dest):
    """Packs the class files under `src` into the jar `dest`: a class-data
    archive only takes classes from jars."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for f in files_under(src):
            info = zipfile.ZipInfo(os.path.relpath(f, src).replace(os.sep, "/"), (1980, 1, 1, 0, 0, 0))
            with open(f, "rb") as fh:
                z.writestr(info, fh.read())


def jvm_cmd(java, cp, done):
    """The JVM command line up to the main class. The archive run and the
    measured runs share it: an archive is only mapped by a JVM with the same
    class path, heap size and collector as the one that wrote it."""
    tmp = os.path.join(BUILD, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]  # JVM warnings off stdout
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jsa = os.path.join(done, "classes.jsa")
    if os.path.exists(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    return cmd + ["-cp", cp]


def build(java, jars):
    """Compiles the program then the benchmark into jars and writes their
    class-data archive; returns (class path, build directory)."""
    program, bench = scala_files(PROGRAM_SRC), scala_files(BENCH_SRC)
    if not program:
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    spark = sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))
    h = hashlib.sha256()
    for f in program + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(spark).encode())
    key = h.hexdigest()[:16]
    done = os.path.join(BUILD, f"classes-{key}")
    cp = os.pathsep.join([os.path.join(done, "bench.jar"), os.path.join(done, "program.jar")] + spark)
    if not os.path.isdir(done):
        os.makedirs(BUILD, exist_ok=True)
        for old in os.listdir(BUILD):  # left by interrupted builds
            if old.startswith("tmp-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        tmp = os.path.join(BUILD, f"tmp-{key}-{os.getpid()}")
        print(f"perfbench: compiling {len(program)} program and {len(bench)} benchmark files", file=sys.stderr)
        spark_cp = os.path.join(jars, "*")
        scalac(java, spark_cp, os.path.join(tmp, "program"), program)
        scalac(java, os.pathsep.join([os.path.join(tmp, "program"), spark_cp]), os.path.join(tmp, "bench"), bench)
        jar_dir(os.path.join(tmp, "program"), os.path.join(tmp, "program.jar"))
        jar_dir(os.path.join(tmp, "bench"), os.path.join(tmp, "bench.jar"))
        shutil.rmtree(os.path.join(tmp, "program"))
        shutil.rmtree(os.path.join(tmp, "bench"))
        try:
            os.rename(tmp, done)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # another run finished the same build first
        for old in os.listdir(BUILD):
            if old.startswith("classes-") and old != f"classes-{key}":
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    jsa, tried = os.path.join(done, "classes.jsa"), os.path.join(done, "classes.jsa.tried")
    if not os.path.exists(jsa) and not os.path.exists(tried):
        part = f"{jsa}.{os.getpid()}"
        print("perfbench: writing the class-data archive", file=sys.stderr)
        cmd = jvm_cmd(java, cp, done) + ["perfbench.ClassWarm", "--work-dir", os.path.join(BUILD, "work")]
        cmd.insert(1, f"-XX:ArchiveClassesAtExit={part}")
        try:
            code, _ = run_child(cmd, timeout=300, capture=True)
        except subprocess.TimeoutExpired:
            code = -1
        if code == 0 and os.path.exists(part):
            os.replace(part, jsa)
        else:  # not retried: runs go on without an archive
            open(tried, "w").close()
            if os.path.exists(part):
                os.remove(part)
    return cp, done


def run_jvm(main, args, timeout=RUN_TIMEOUT_S):
    """Runs `main` in a fresh JVM, stopping it (and waiting) on timeout."""
    java = java_bin()
    cp, done = build(java, spark_jars())
    cmd = jvm_cmd(java, cp, done) + [main, "--work-dir", os.path.join(BUILD, "work")] + args
    try:
        return run_child(cmd, timeout, capture=True)
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {timeout} s")


def metric_lines(out):
    return {m.group(1): float(m.group(2))
            for m in re.finditer(r"^metric (\S+)\s+(\S+)", out or "", re.M)}


def main():
    # a stop request unwinds through run_child, which kills its child group
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    ap.add_argument("--overhead", action="store_true",
                    help="run the workload untraced then traced and report the tracing overhead")
    a = ap.parse_args()

    if a.selftest:
        code, out = run_jvm("perfbench.SelfTest", [], timeout=900)
        sys.stdout.write(out)
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    if not a.overhead:
        code, out = run_jvm("perfbench.Main", args + ["--trace", a.trace])
        sys.stdout.write(out)
        sys.exit(code)

    runs = {}
    for t in ("0", "1"):
        code, out = run_jvm("perfbench.Main", args + ["--trace", t])
        sys.stdout.write(out)
        if code != 0:
            sys.exit(code)
        runs[t] = metric_lines(out)
    print(f"# tracing overhead, {a.workload} seed {a.seed} (traced / untraced - 1)")
    for name, plain in runs["0"].items():
        traced = runs["1"].get(name)
        if traced is not None and plain:
            print(f"overhead {name:<28} {plain:14.4f} -> {traced:14.4f}  {100 * (traced / plain - 1):+7.1f}%")


if __name__ == "__main__":
    main()
