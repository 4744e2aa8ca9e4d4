#!/usr/bin/env python3
"""Benchmark launcher: builds the library and the benchmark from source, then
runs one workload in one JVM and relays its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload etl_backfill|etl_daily|query_mix \
        --seed N --seconds S --trace 0|1

The build (sbt, offline) runs only when the sources changed since the last
build in this checkout. The JVM prints a metrics summary and, last, a JSON
line with every metric; this script forwards the summary and prints the
result line: the end-to-end metrics BENCHMARK.json names (--trace 0) or its
per-layer metrics (--trace 1). Spark's log goes to perfbench/results/<run>.log,
the full result (fingerprint, every operation, failures with their causes) to
perfbench/results/<run>.json.
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
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170
WORKLOADS = ("etl_backfill", "etl_daily", "query_mix")
# local[N] per workload. The ETL loads are bound by the Spark driver (dozens
# of small jobs on a few thousand rows): with two task threads the driver
# thread keeps a free CPU, and on a 4-vCPU VM etl_daily passes were faster
# than with four in four of five interleaved pairs. The query mix has
# CPU-heavy queries (graph loop, similarity) that use four.
CORES = {"etl_backfill": 2, "etl_daily": 2, "query_mix": 4}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build(src_digest):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == src_digest:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "results", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
                          "Compile / copyResources"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (status {rc}); see {os.path.relpath(log, ROOT)}", 3)
    with open(stamp, "w") as fh:
        fh.write(src_digest)
    return classes


def source_id(src_digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0 and sha.stdout.strip():
            return "git:" + sha.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + src_digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")

    src_digest = digest(source_files())
    classes = build(src_digest)

    run_name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JVM sizes its GC and JIT thread pools to the processors it sees;
    # showing it only the task threads' cores keeps those pools as small
    cores = min(CORES[a.workload], nproc)
    cmd += [f"-XX:ActiveProcessorCount={cores}", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--nproc", str(nproc),
            "--work", work, "--result", os.path.join(results, run_name + ".json"),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--queries", os.path.join(HERE, "queries.tsv"),
            "--source-id", source_id(src_digest)]
    out_path = os.path.join(results, run_name + ".out")
    with open(os.path.join(results, run_name + ".log"), "w") as log, open(out_path, "w") as out:
        rc = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT,
                         stdout=out, stderr=log, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    lines = open(out_path).read().splitlines()
    print("\n".join(lines[:-1]))
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 4)
    if rc != 0 or not lines:
        fail(f"run failed (status {rc}); see perfbench/results/{run_name}.log", 5)
    full = json.loads(lines[-1])
    kind = "per_layer" if a.trace else "end_to_end"
    names = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[kind]]
    missing = [n for n in names if n not in full[kind]]
    if missing:
        fail(f"metrics missing from the run: {missing}", 6)
    metrics = {n: full[kind][n] for n in names}
    finite = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": full["correct"] and finite, "attempted": full["attempted"],
                      "failed": full["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
