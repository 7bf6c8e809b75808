#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, print one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: payroll_month, ops_repertoire, ops_heavy (see perfbench/NOTES.md).
The first run in a checkout compiles the repository's main sources together
with the benchmark harness (sbt, offline) into the build directory — the
one named by CARGO_TARGET_DIR or BENCH_BUILD_DIR, else `.bench_build` — and
later runs reuse that build while the sources are unchanged. Each run starts
one JVM, which generates the workload's inputs from the seed, sets up,
measures for the given seconds, checks every unit's outputs, and prints a
JSON object; this script prints that object as the last line of its own
standard output. Everything else (build log, Spark log, summaries) goes to
standard error.

Extra flag: --record <file> writes the query checksums of the last pass
(query workloads only), which is how expected/query_checksums.tsv was made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("payroll_month", "ops_repertoire", "ops_heavy")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("BENCH_BUILD_DIR") or os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home, os.path.join(home, "jars")


def source_digest():
    """Digest of every file the build compiles, to reuse a finished build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(bdir, spark_home):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the repository's src/main/scala is missing; nothing to build")
    classes = os.path.join(bdir, "sbt-target", "scala-2.13", "classes")
    stamp = os.path.join(bdir, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building (sbt compile) ...")
    env = dict(os.environ, BENCH_BUILD_DIR=bdir, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    sbt_tmp = os.path.join(bdir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = (opts + f" -Dsbt.global.base={os.path.join(bdir, 'sbt-global')}"
                       f" -Djava.io.tmpdir={sbt_tmp}").strip()
    rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isdir(classes):
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(cmd, cwd):
    """Runs the JVM, relays its output to stderr, returns (rc, last stdout line)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    last = None
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if lines:
        last = lines[-1]
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    spark_home, jars = spark_jars()
    bdir = build_dir()
    classes = build(bdir, spark_home)

    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", HERE, "--work", work]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    try:
        rc, last = run_jvm(cmd, cwd=work)
    finally:
        if a.trace:  # keep the spans; drop the rest of the run's scratch
            for name in os.listdir(work):
                if name != "trace":
                    shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        else:
            shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not last:
        sys.exit(f"perfbench: the benchmark JVM failed (exit {rc})")
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
