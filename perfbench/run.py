#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, print one JSON result line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 25 --trace 0

Builds the program and the harness from source when either changed (sbt,
in this directory), then runs the workload in one fresh JVM
(src/main/scala/perfbench/Harness.scala).
Every file a run writes goes under a temp root inside this directory, which
is removed at the end. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Build and JVM logs go to
stderr. See README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORKLOADS = sorted(f[:-len(".txt")] for f in os.listdir(os.path.join(BENCH, "workloads"))
                   if f.endswith(".txt"))
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "-Xmx2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "warm_wall_s": "s",
    "warm_query_geomean_s": "s",
    "driver_retained_mb": "MB",
}

MODULES = ("analytics", "sql", "dedup", "similarity", "text", "ml",
           "multimodal", "streaming", "sinks")

# name -> (unit, better); BENCHMARK.json's per_layer list mirrors this table.
PER_LAYER = {
    "session.first_setup_s": ("s", "lower"),
    "session.jvm_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "sources.meta_jobs": ("count", "lower"),
    "sources.meta_s": ("s", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.input_rows": ("count", "lower"),
    "sinks.jobs": ("count", "lower"),
    "sinks.s": ("s", "lower"),
    "sinks.output_bytes": ("bytes", "lower"),
    "sinks.output_files": ("count", "lower"),
    "driver.plan_s": ("s", "lower"),
    "driver.gap_s": ("s", "lower"),
    "driver.gap_frac": ("fraction", "lower"),
    "codegen.compiles": ("count", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "cold.driver.plan_s": ("s", "lower"),
    "cold.driver.gap_s": ("s", "lower"),
    "cold.driver.gap_frac": ("fraction", "lower"),
    "cold.sources.meta_s": ("s", "lower"),
    "cold.build.s": ("s", "lower"),
    "cold.codegen.compiles": ("count", "lower"),
    "cold.jvm.jit_s": ("s", "lower"),
    "cold.jvm.gc_s": ("s", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "materialize.blocks": ("count", "lower"),
    "materialize.bytes": ("bytes", "lower"),
    "materialize.unreleased_bytes": ("bytes", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.stages_skipped_frac": ("fraction", "higher"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.task_gc_s": ("s", "lower"),
    "exec.sched_wait_s": ("s", "lower"),
    "exec.busy_frac": ("fraction", "higher"),
    "exec.skew": ("ratio", "lower"),
    "exec.task_failures": ("count", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.bytes": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.commit_offsets_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.idle_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    **{f"{m}.{p}_s": ("s", "lower") for m in MODULES for p in ("cold", "warm")},
    "trace.cold_wall_s": ("s", "lower"),
    "trace.warm_wall_traced_s": ("s", "lower"),
    "trace.overhead_frac": ("fraction", "lower"),
    "warm_query_p50_s": ("s", "lower"),
    "warm_query_p90_s": ("s", "lower"),
    "warm_query.samples": ("count", "higher"),
    "warm.passes": ("count", "higher"),
    "error_frac": ("fraction", "lower"),
    "scratch.leftover_files": ("count", "lower"),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources_digest():
    """Digest of everything the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    for base in (PROGRAM_SOURCES, os.path.join(BENCH, "src", "main")):
        for dirpath, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "scala", "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {PROGRAM_SOURCES}")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=BENCH,
                       stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def jvm_command(tmp, harness_args):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    return [java, *opens, JVM_HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness",
            "--bench", BENCH, "--tmp", tmp, *harness_args]


def run_jvm(cmd, tmp, deadline):
    """Runs the harness JVM and returns its result; kills it at the deadline."""
    os.makedirs(os.path.join(tmp, "jtmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or result is None:
        fail(f"harness JVM exited with code {code} before reporting a result")
    return result


def count_files(root):
    return sum(len(files) for _, _, files in os.walk(root))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    # the run's own time limit starts after a (first-run) build
    deadline = time.monotonic() + RUN_DEADLINE_S
    runs_dir = os.path.join(BENCH, ".runs")
    os.makedirs(runs_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    try:
        res = run_jvm(jvm_command(tmp, [
            "--mode", "run", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(len(os.sched_getaffinity(0)))]),
            tmp, deadline)
        leftover = count_files(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    raw = dict(res["metrics"])
    raw["scratch.leftover_files"] = float(leftover)
    units = {k: u for k, (u, _) in PER_LAYER.items()} if args.trace else END_TO_END
    metrics = {}
    for name, unit in units.items():
        value = raw.get(name)
        if value is None or not math.isfinite(value):
            fail(f"metric {name} missing from the harness result")
        metrics[name] = {"value": value, "unit": unit}
    print(f"perfbench: {args.workload} seed {args.seed}: " + ", ".join(
        f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items()), file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
