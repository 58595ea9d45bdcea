#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload terasort --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (under
.bench_build/), runs the workload in one JVM with a fresh scratch
directory under .bench_build/, checks every pass's output, and prints a
host record, the run's details and, as the last line, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics, with
--trace 1 its per-layer metrics (and the spans are kept under
.bench_build/traces/).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
# seconds a run may take once the build is done
DEADLINE_S = 175
# Heap per workload: terasort's is small on purpose, so its reduce-side
# sort spills at a size that still fits the run budget.
HEAP = {"terasort": "768m", "dedup_pipeline": "2g"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "run.py"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile engine + benchmark unless the classes match the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               SBT_OPTS=" ".join([
                   "-Dsbt.override.build.repos=true",
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories"),
                   "-Dsbt.offline=true", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "Compile/copyResources"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f"build failed ({r.returncode})", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def host(heap):
    shm = shutil.disk_usage("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()), "heap": heap,
            "shm_free_mb": round(shm.free / 2**20) if shm else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; "
             "run from the repository root")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    build()
    t_start = time.time()
    heap = HEAP[a.workload]
    host_start = host(heap)

    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_REPO_DIR=work,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out,
              "--oracle", os.path.join(BENCH, "oracle.py")])
    # its own process group, so a timeout stops the JVM and any oracle
    # child together
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(msg):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(msg, 1)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop("interrupted"))
    try:
        code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        stop("run exceeded its time budget")
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {code}", 1)
    with open(out) as fh:
        res = json.load(fh)
    if res.get("spans"):
        kept = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.json")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(res["spans"], kept)
        res["spans"] = os.path.relpath(kept, ROOT)
    shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    bad = [k for k in wanted if k not in metrics or not isinstance(
        metrics[k]["value"], (int, float)) or not math.isfinite(metrics[k]["value"])]
    if bad or set(metrics) != set(wanted):
        fail(f"metrics missing or not finite: {bad or sorted(set(metrics) ^ set(wanted))}", 1)

    print(json.dumps({"host": {"start": host_start, "end": host(heap)}}))
    detail = {k: res[k] for k in ("inputs", "setup", "failed_frac", "spans")}
    detail["pass_wall_s"] = [round(p["wall_s"], 3) for p in res["passes"]]
    detail["pass_cpu_s"] = [round(p["cpu_s"], 3) for p in res["passes"]]
    print(json.dumps(detail))
    for i, p in enumerate(res["passes"]):
        if p["problems"]:
            print(json.dumps({"pass": i, "problems": p["problems"]}))
    if res["probe_problems"]:
        print(json.dumps({"probes": res["probe_problems"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
