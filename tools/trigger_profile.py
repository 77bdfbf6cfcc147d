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

Usage: tools/trigger_profile.py TRACE.jsonl [--skip N]
  --skip N   leave out the first N triggers (e.g. the catch-up phase)
"""
import argparse
import json
import re
import statistics
import sys

SPANS = ("five_stage_call", "five_stage_emit", "sink_write")


def load(path):
    triggers = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = json.loads(line)
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
                t[s["name"]] = t.get(s["name"], 0.0) + ms
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
    cols = ("jobs",) + SPANS + ("trigger",)
    print("idx  batch " + " ".join(f"{c:>16}" for c in cols))
    for i, (b, t) in enumerate(rows):
        cells = [f"{t['jobs']:>16d}"] + [f"{t.get(c, 0.0):>16.1f}" for c in cols[1:]]
        print(f"{i:>3} {b:>6} " + " ".join(cells))
    print("median     " + " ".join(
        f"{statistics.median(t.get(c, 0.0) for _, t in rows):>16.1f}" for c in cols))
    idx = list(range(len(rows)))
    jobs = [t["jobs"] for _, t in rows]
    call = [t.get("five_stage_call", 0.0) for _, t in rows]
    print(f"triggers {len(rows)}; jobs per trigger {min(jobs)}..{max(jobs)}; "
          f"slope of jobs {slope(idx, jobs):+.4f} per trigger; "
          f"slope of five_stage_call {slope(idx, call):+.3f} ms per trigger")


if __name__ == "__main__":
    main()
