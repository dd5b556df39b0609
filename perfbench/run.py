#!/usr/bin/env python3
"""graft's benchmark: build graft and the benchmark from source, then run one
workload in a fresh JVM.

    python3 perfbench/run.py --workload ask_zipf --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a graft checkout. It compiles src/main/scala together
with perfbench/src straight with scalac (the Scala compiler jar ships with
Spark), into a directory keyed by a hash of every source, under
$CARGO_TARGET_DIR (default .bench_build). A build is reused until a source
changes. The workload's scratch stores live under the same directory and are
removed when the run ends. The JVM prints the result; its last stdout line is
one JSON object with the keys correct, attempted, failed and metrics.

Workloads: ask_zipf (open-loop /ask serving over HTTP) and index_maintain
(single-writer graph + BM25 index maintenance). See BENCHMARK.json.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            fail("missing source directory %s: run from a graft checkout" % os.path.relpath(base, ROOT))
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark jars graft's sbt build compiles against (its
    `unmanagedBase`), or $SPARK_HOME/jars, and the Scala compiler among them."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            fail("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        jars = m.group(1)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))] \
        if os.path.isdir(jars) else []
    if len(compiler) != 3:
        fail("no Spark jars with a Scala compiler under %s (set SPARK_HOME)" % jars)
    return jars, compiler


def build(build_dir):
    """Compiles graft + the benchmark once per source hash; returns
    (Spark jars dir, classes dir, state dir)."""
    srcs = sources()
    jars, compiler = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for f in compiler:
        h.update(os.path.basename(f).encode())
    key = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes-" + key)
    state = os.path.join(build_dir, "state-" + key)
    if os.path.isdir(classes):
        return jars, classes, state
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith(("classes-", "state-", "tmp-classes-")):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    tmp = os.path.join(build_dir, "tmp-classes-%d" % os.getpid())
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac-args-%d.txt" % os.getpid())
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout)
        fail("compilation failed")
    os.rename(tmp, classes)
    return jars, classes, state


def run_jvm(cmd, timeout_s):
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s, stopped" % timeout_s, file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars, classes, state = build(build_dir)
    cp = os.pathsep.join([os.path.join(jars, "*"), classes])
    if a.selftest:
        sys.exit(run_jvm(["java", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.Main", "--selftest"],
                         RUN_TIMEOUT_S))

    work = os.path.join(build_dir, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData"] + ["--add-opens=" + o for o in ADD_OPENS] + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--work", work, "--state", state]
    try:
        code = run_jvm(cmd, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
