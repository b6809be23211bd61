#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, stages seeded inputs,
runs one workload in one JVM and prints the result as one JSON line.

    python3 perfbench/run.py --workload <corpus|adhoc> --seed <n> \
        --seconds <s> --trace <0|1> [--record]

Run it from the root of a checkout. Build outputs, staged inputs, logs and
traces go to .bench_build/ there. The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of the
traced run (--trace 1); the line before it carries the run's detail (seed,
per-op times, canary samples, named failures). --record rewrites the
expected fingerprints of the workload from this run instead of checking
them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stage as staging  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["adhoc", "corpus"]
# Scale factors of the benchmark corpus and of the small set-up corpus.
BENCH_SF = "sf0.01"
WARM_SF = "sf0.001"
# Time limits, in seconds: the build, and a run after its build.
BUILD_DEADLINE_S = 840
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_logged(cmd, cwd, log, timeout):
    """Run `cmd` in its own process group with output to `log`; return its
    exit code, or None after killing the whole group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-error",
                     "export Runtime/fullClasspath"], HERE, log, BUILD_DEADLINE_S)
    if rc is None:
        fail(f"build exceeded {BUILD_DEADLINE_S} s; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def stage(seed, run_dir):
    """Seeded inputs: the benchmark corpus and the small set-up corpus,
    row-permuted copies of the shipped tables."""
    bench = os.path.join(run_dir, "data", "bench")
    warm = os.path.join(run_dir, "data", "warm")
    staging.write(bench, BENCH_SF, seed)
    staging.write(warm, WARM_SF, seed)
    return bench, warm


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    t0 = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    cp = build()
    t_built = time.monotonic()

    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    bench, warm = stage(args.seed, run_dir)
    out_file = os.path.join(run_dir, "result.json")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--bench", bench,
              "--warm", warm, "--seconds", str(args.seconds),
              "--trace", args.trace, "--cores", str(cores),
              "--expected", os.path.join(HERE, "expected", f"{args.workload}.tsv"),
              "--out", out_file, "--trace-out", trace_file]
           + (["--record"] if args.record else []))
    log = os.path.join(BUILD, f"jvm-{args.workload}.log")
    t_jvm = time.monotonic()
    rc = run_logged(cmd, run_dir, log, max(RUN_DEADLINE_S - (t_jvm - t_built), 10))
    if rc is None:
        fail(f"run exceeded {RUN_DEADLINE_S} s after the build; see {log}")
    if rc != 0 or not os.path.isfile(out_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM exited with {rc}; see {log}")
    with open(out_file) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    detail = dict(res["detail"], seed=args.seed, trace=int(args.trace),
                  jvm_s=round(time.monotonic() - t_jvm, 3),
                  run_s=round(time.monotonic() - t0, 3))
    print("perfbench detail " + json.dumps(detail))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
