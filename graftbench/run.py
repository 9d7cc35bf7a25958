#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 graftbench/run.py --workload catalog_query --seed 1 --seconds 16 --trace 0
    python3 graftbench/run.py --selftest
    python3 graftbench/run.py --record-fingerprints

Run from the root of a graft checkout. The first run compiles graft's
sources (src/main/scala) together with the benchmark's own (graftbench/src)
against the Spark jars of $SPARK_HOME (or the `unmanagedBase` named in
build.sbt) into $CARGO_TARGET_DIR/graftbench, default .bench_build/graftbench;
later runs reuse the classes while no source changed. The benchmark then
runs in one JVM whose stdout ends with the result object; this script
passes that stdout through unchanged and exits with the JVM's code.
"""
import argparse
import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("catalog_query", "registry_mix")
# a run must end within 180 s; leave room to stop the JVM and clean up
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass (as build.sbt's javaOptions do for `sbt run`).
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(BENCH_DIR, "src")
    out = []
    for base in (main_src, bench_src):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(main_src) for p in out):
        fail(f"no graft sources under {main_src}: run from the root of a graft checkout")
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    fail("no Spark jars found: set SPARK_HOME")


def build(jars):
    """Compile into <target>/graftbench/classes unless the stamp matches."""
    srcs = scala_sources()
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")
    os.makedirs(target, exist_ok=True)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(target, "classes")
    stamp_file = os.path.join(target, "classes.stamp")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return target, classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
        t0 = time.time()
        argfile = os.path.join(target, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"compilation failed (exit {r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"graftbench: compiled in {time.time() - t0:.0f} s", file=sys.stderr)
    return target, classes


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def run_jvm(target, classes, jars, main, args):
    runs = os.path.join(target, "work")
    # a run stopped from outside leaves its directory behind
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        m = re.fullmatch(r"run-(\d+)", d)
        if m and not pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    work = os.path.join(runs, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    # keep Spark's scratch space inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed heap and young generation under the throughput collector keep
           # the touched memory, and so peak_rss_mb, from varying with GC timing
           ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)
    cmd += ["--work", work, "--bench", BENCH_DIR] if main == "graftbench.Main" else [work]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT)
    # if this script is stopped, stop the JVM with it (via the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"graftbench: run exceeded {RUN_TIMEOUT_S} s, stopping it", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check the benchmark's own pieces")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="rewrite graftbench/fingerprints.json from the current registry")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record_fingerprints):
        ap.error("one of --workload, --selftest, --record-fingerprints is required")
    jars = spark_jars()
    target, classes = build(jars)
    sys.stdout.flush()
    if a.selftest:
        code = run_jvm(target, classes, jars, "graftbench.SelfTest", [])
    elif a.record_fingerprints:
        code = run_jvm(target, classes, jars, "graftbench.Main", ["--workload", "record_fingerprints"])
    else:
        code = run_jvm(target, classes, jars, "graftbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace)])
    sys.exit(code)


if __name__ == "__main__":
    main()
