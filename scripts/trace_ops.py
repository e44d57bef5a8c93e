#!/usr/bin/env python3
"""Per-operation-kind cost table from a perfbench span trace.

Usage: python3 scripts/trace_ops.py <workload>-seed<n>.spans.jsonl

A traced perfbench run (`perfbench/run.py --trace 1`) writes its spans to
`.bench_build/traces/<workload>-seed<n>.spans.jsonl`: one JSON object per
line with id, parent, kind, name, start_ms and end_ms. Operations hang off
parent 0 (name "<kind> <round>", e.g. "sql_merge 13"), phases off their
operation, Spark jobs off their phase and stages off their job. This
script walks each job and stage up to its operation and prints, per
operation kind: operations, jobs, stages, wall seconds, driver-gap
seconds, and jobs and wall seconds per operation. An operation's driver
gap is its wall time minus the union of its jobs' intervals (clipped to
the operation), the definition of perfbench's `sched.driver_gap_s`. It
only reads the trace.
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

    def covered_ms(intervals, lo, hi):
        total, cur_s, cur_e = 0, None, None
        for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        return total + (cur_e - cur_s if cur_e is not None else 0)

    ops = collections.Counter()
    wall = collections.Counter()
    jobs = collections.Counter()
    stages = collections.Counter()
    job_iv = collections.defaultdict(list)  # op id -> its job intervals
    for s in spans.values():
        if s["kind"] in ("job", "stage"):
            op = op_of(s)
            if op is None:
                continue
            k = op["name"].split(" ")[0]
            (jobs if s["kind"] == "job" else stages)[k] += 1
            if s["kind"] == "job":
                job_iv[op["id"]].append((s["start_ms"], s["end_ms"]))
    gap = collections.Counter()
    for s in spans.values():
        if s["kind"] == "op":
            k = s["name"].split(" ")[0]
            ops[k] += 1
            ms = s["end_ms"] - s["start_ms"]
            wall[k] += ms / 1000.0
            gap[k] += (ms - covered_ms(job_iv[s["id"]], s["start_ms"],
                                       s["end_ms"])) / 1000.0

    print(f"{'op':<14}{'ops':>5}{'jobs':>7}{'stages':>8}{'wall_s':>9}"
          f"{'gap_s':>8}{'jobs/op':>9}{'s/op':>8}")
    for k in sorted(ops, key=lambda k: (-jobs[k], k)):
        n = ops[k]
        print(f"{k:<14}{n:>5}{jobs[k]:>7}{stages[k]:>8}{wall[k]:>9.2f}"
              f"{gap[k]:>8.2f}{jobs[k] / n:>9.1f}{wall[k] / n:>8.3f}")
    print(f"{'total':<14}{sum(ops.values()):>5}{sum(jobs.values()):>7}"
          f"{sum(stages.values()):>8}{sum(wall.values()):>9.2f}"
          f"{sum(gap.values()):>8.2f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
