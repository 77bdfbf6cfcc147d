#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.sh,
into .bench_build), runs the workload in one JVM at local[nproc], and
prints as its last line one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Each run works under its own
directory in .bench_build/run, which is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
# Maximum heap only: the heap grows as the program needs it, so the
# JVM's peak resident memory follows the program's use.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            conf = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read the benchmark definition: {e}", 2)
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload '{args.workload}'", 2)
    params = conf["workloads"][args.workload]
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    built = subprocess.run(["bash", os.path.join(HERE, "build.sh"), build],
                           stdout=sys.stderr, timeout=800)
    if built.returncode != 0:
        fail("build failed", 2)

    run = os.path.join(build, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    result = os.path.join(run, "result.json")
    spans = os.path.join(build, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    with open(os.path.join(build, "classes", ".jars")) as f:
        jars = f.read().strip()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{build}/classes:{jars}/*", "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", repr(args.seconds), "--trace", str(args.trace),
              "--root", run, "--cores", str(cores), "--result", result, "--spans", spans,
              "--launch-ms", repr(time.time() * 1000.0)]
           + [f"{k}={v}" for k, v in params.items()])
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        try:
            with open(result) as f:
                out = json.loads(f.read())
        except (OSError, ValueError):
            out = None
        shutil.rmtree(run, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or out is None:
        fail(f"run failed (exit code {code})")

    metrics = {}
    for m in wanted:
        if m["name"] not in out["metrics"]:
            fail(f"run reported no value for metric '{m['name']}'")
        metrics[m["name"]] = {"value": out["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
