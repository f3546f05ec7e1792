#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root. It compiles the program's sources
(src/main/scala) together with the benchmark's own Scala sources into
.bench_build/ (reused while the sources are unchanged), starts one JVM
for the workload, and prints the JVM's result object. With --trace 1
the per-layer metrics are printed instead of the end-to-end ones, and
the spans go to .bench_runs/<workload>-<seed>-trace.json.

Spark's jars come from $SPARK_HOME/jars, or else from the directory
build.sbt names as its unmanagedBase. Exit status is non-zero when the
build, the run or a correctness gate fails.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUNS = ".bench_runs"
RUN_TIMEOUT_S = 170
WORKLOADS = ("cdc_stream", "batch")

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main + bench


def build(jars):
    """Compile the program and the benchmark; returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    open(os.path.join(tmp, ".ok"), "w").write(f"{time.time() - t0:.1f}\n")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the self-test")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="recorded batch fingerprints")
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    os.makedirs(RUNS, exist_ok=True)
    tag = f"{args.workload}-{args.seed}"
    work = os.path.abspath(os.path.join(RUNS, tag + "-work"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(RUNS, tag + "-result.json")
    trace_out = os.path.join(RUNS, tag + "-trace.json")
    log = os.path.join(RUNS, tag + ".log")
    for f in (out, trace_out):
        if os.path.exists(f):
            os.remove(f)

    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--trace-out", trace_out,
              "--data", os.path.join(HERE, "data"), "--expected", args.expected,
              "--size", args.size])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code is None or not os.path.exists(out):
        tail = open(log).read()[-3000:]
        sys.stderr.write(tail)
        fail("run timed out" if code is None else f"run failed with exit code {code}")
    gates = [l for l in open(log) if "GATE FAILED" in l]
    sys.stderr.writelines(gates)
    print(open(out).read().strip())
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
