#!/usr/bin/env python3
"""Per-trigger profile of a perfbench span trace.

Reads the JSON-lines span trace that `perfbench/run.py --trace 1` writes
(`.bench_build/traces/<workload>-seed<N>.jsonl`) and prints, for each
trigger in batch order: the number of Spark jobs it ran, the times of its
`five_stage_call`, `five_stage_emit` and `sink_write` spans and of the
whole trigger; then the medians, and the least-squares slopes of jobs and
of call time against the trigger's index. A trigger cost that does not
grow with the stream's age shows as a constant job count and a call-time
slope near 0.

Each of the three spans is also split into three parts, from the Spark
jobs the trace nests under it: `pre`, driver time from the span's start
to its first job's start; `job`, the wall from the first job's start to
the last job's end; `post`, driver time from the last job's end to the
span's end. A span without a job is all `pre`. Driver time before a job
is mostly building and planning the query that job runs.

Usage: tools/trigger_profile.py TRACE.jsonl [--skip N]
  --skip N   leave out the first N triggers (e.g. the catch-up phase)
"""
import argparse
import json
import re
import statistics
import sys

SPANS = ("five_stage_call", "five_stage_emit", "sink_write")
SHORT = {"five_stage_call": "call", "five_stage_emit": "emit", "sink_write": "sink"}
PARTS = ("pre", "job", "post")


def split(span, jobs):
    """(pre, job, post) ms of a span given the (start, end) of its jobs."""
    start, end = span
    if not jobs:
        return end - start, 0.0, 0.0
    first = max(start, min(a for a, _ in jobs))
    last = min(end, max(max(b for _, b in jobs), first))
    return first - start, last - first, end - last


def load(path):
    spans = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            spans.append(json.loads(line))
    jobs_of = {}
    for s in spans:
        if s["layer"] == "spark" and s["name"].startswith("job"):
            jobs_of.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    triggers = {}
    for s in spans:
        m = re.fullmatch(r"b(\d+)", s["group"])
        if not m:
            continue
        t = triggers.setdefault(int(m.group(1)), {"jobs": 0, "trigger": 0.0})
        ms = s["end_ms"] - s["start_ms"]
        if s["layer"] == "spark" and s["name"].startswith("job"):
            t["jobs"] += 1
        elif s["name"] == "trigger":
            t["trigger"] = ms
        elif s["name"] in SPANS:
            short = SHORT[s["name"]]
            t[short] = t.get(short, 0.0) + ms
            parts = split((s["start_ms"], s["end_ms"]), jobs_of.get(s["id"], []))
            for p, v in zip(PARTS, parts):
                t[f"{short}_{p}"] = t.get(f"{short}_{p}", 0.0) + v
    return [(b, triggers[b]) for b in sorted(triggers)]


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 with fewer than 2 points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--skip", type=int, default=0)
    a = ap.parse_args()
    rows = load(a.trace)[a.skip:]
    if not rows:
        sys.exit(f"{a.trace}: no triggers")
    cols = ["jobs"]
    for s in SPANS:
        cols += [SHORT[s]] + [f"{SHORT[s]}_{p}" for p in PARTS]
    cols.append("trigger")
    print("idx  batch " + " ".join(f"{c:>9}" for c in cols))
    for i, (b, t) in enumerate(rows):
        cells = [f"{t['jobs']:>9d}"] + [f"{t.get(c, 0.0):>9.1f}" for c in cols[1:]]
        print(f"{i:>3} {b:>6} " + " ".join(cells))
    print("median     " + " ".join(
        f"{statistics.median(t.get(c, 0.0) for _, t in rows):>9.1f}" for c in cols))
    idx = list(range(len(rows)))
    jobs = [t["jobs"] for _, t in rows]
    call = [t.get("call", 0.0) for _, t in rows]
    print(f"triggers {len(rows)}; jobs per trigger {min(jobs)}..{max(jobs)}; "
          f"slope of jobs {slope(idx, jobs):+.4f} per trigger; "
          f"slope of five_stage_call {slope(idx, call):+.3f} ms per trigger")


if __name__ == "__main__":
    main()
