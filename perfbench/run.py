#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt. The build writes the JVM's options (the
program's own javaOptions) and its classpath, and run.py caches them under
.bench_build, keyed by a hash of every source file, so an edited tree
rebuilds. Every call then runs ONE workload in ONE JVM (perfbench.Main) and
relays its output. The last line of standard output is the result object;
everything else goes before it (human-readable metric lines) or to standard
error (build and Spark logs).
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("fused_write", "config_corpus", "stream_backlog", "query_suite")
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def launch_args():
    """Build once per source fingerprint; return the JVM options and the
    `-cp` classpath that the build wrote (perfbench/build.sbt, launchFile)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("program sources (build.sbt, src/main/scala) not found; "
             "run from the root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, f"launch-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "compile", "perfbench/launchFile"],
            cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    launch = os.path.join(BENCH, "target", "launch.txt")
    if out.returncode != 0 or not os.path.isfile(launch):
        fail("build failed")
    with open(launch) as fh:
        args = fh.read().splitlines()
    if "-cp" not in args:
        fail(f"build wrote no classpath to {launch}")
    with open(stamp + ".tmp", "w") as fh:
        fh.write("\n".join(args))
    os.replace(stamp + ".tmp", stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0 or a.seconds <= 0:
        fail("--seed must be >= 0 and --seconds > 0")
    jvm = launch_args()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Djava.io.tmpdir={tmp}"] + jvm
    cmd += ["perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(BUILD, "work", a.workload),
            "--root", ROOT]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            env=dict(os.environ, TMPDIR=tmp),
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload {a.workload} exceeded {RUN_TIMEOUT_S}s")
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        fail(f"workload {a.workload} exited with {proc.returncode}")


if __name__ == "__main__":
    main()
