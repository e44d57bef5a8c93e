#!/usr/bin/env python3
"""Per-operation-kind cost table from a perfbench span trace.

Usage: python3 scripts/trace_ops.py <workload>-seed<n>.spans.jsonl

A traced perfbench run (`perfbench/run.py --trace 1`) writes its spans to
`.bench_build/traces/<workload>-seed<n>.spans.jsonl`: one JSON object per
line with id, parent, kind, name, start_ms and end_ms. Operations hang off
parent 0 (name "<kind> <round>", e.g. "sql_merge 13"), phases off their
operation, Spark jobs off their phase and stages off their job. This
script walks each job and stage up to its operation and prints, per
operation kind: operations, jobs, stages, wall seconds, and jobs and
wall seconds per operation. It only reads the trace.
"""
import collections
import json
import sys


def main(path: str) -> None:
    spans = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                s = json.loads(line)
                spans[s["id"]] = s

    def op_of(s):
        while s is not None and s["kind"] != "op":
            s = spans.get(s["parent"])
        return s

    ops = collections.Counter()
    wall = collections.Counter()
    jobs = collections.Counter()
    stages = collections.Counter()
    for s in spans.values():
        if s["kind"] == "op":
            k = s["name"].split(" ")[0]
            ops[k] += 1
            wall[k] += (s["end_ms"] - s["start_ms"]) / 1000.0
        elif s["kind"] in ("job", "stage"):
            op = op_of(s)
            if op is None:
                continue
            k = op["name"].split(" ")[0]
            (jobs if s["kind"] == "job" else stages)[k] += 1

    print(f"{'op':<14}{'ops':>5}{'jobs':>7}{'stages':>8}{'wall_s':>9}"
          f"{'jobs/op':>9}{'s/op':>8}")
    for k in sorted(ops, key=lambda k: (-jobs[k], k)):
        n = ops[k]
        print(f"{k:<14}{n:>5}{jobs[k]:>7}{stages[k]:>8}{wall[k]:>9.2f}"
              f"{jobs[k] / n:>9.1f}{wall[k] / n:>8.3f}")
    print(f"{'total':<14}{sum(ops.values()):>5}{sum(jobs.values()):>7}"
          f"{sum(stages.values()):>8}{sum(wall.values()):>9.2f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
