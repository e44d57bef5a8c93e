#!/usr/bin/env python3
"""Per-operation-kind cost table from a perfbench span trace.

Usage: python3 scripts/trace_ops.py <trace.spans.jsonl> [<trace2.spans.jsonl>]
       python3 scripts/trace_ops.py --jobs <op kind> <trace.spans.jsonl>

A traced perfbench run (`perfbench/run.py --trace 1`) writes its spans to
`.bench_build/traces/<workload>-seed<n>.spans.jsonl`: one JSON object per
line with id, parent, kind, name, start_ms and end_ms. Operations hang off
parent 0 (name "<kind> <round>", e.g. "sql_merge 13"), phases off their
operation, Spark jobs off their phase and stages off their job. This
script walks each job and stage up to its operation and prints, per
operation kind: operations, jobs, stages, wall seconds, driver-gap
seconds, and jobs and wall seconds per operation. An operation's driver
gap is its wall time minus the union of its jobs' intervals (clipped to
the operation), the definition of perfbench's `sched.driver_gap_s`.

Given a second trace (say, the parent commit's run first and a change's
run second), it prints each operation kind's ops, jobs, wall_s and gap_s
as "first -> second", and the totals.

With `--jobs <op kind>` (say, `--jobs sql_merge`) it lists every operation
of that kind with its wall milliseconds, then each Spark job it ran: the
job id, its milliseconds and the call site of each of its stages. It only
reads the traces.
"""
import collections
import json
import sys


def load(path: str) -> dict:
    """Span id -> span for one trace."""
    spans = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                s = json.loads(line)
                spans[s["id"]] = s
    return spans


def op_of(spans: dict, s):
    """The operation span `s` hangs off, or None."""
    while s is not None and s["kind"] != "op":
        s = spans.get(s["parent"])
    return s


def summarize(path: str) -> dict:
    """Operation kind -> {ops, jobs, stages, wall, gap} for one trace."""
    spans = load(path)

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

    out = collections.defaultdict(collections.Counter)
    job_iv = collections.defaultdict(list)  # op id -> its job intervals
    for s in spans.values():
        if s["kind"] in ("job", "stage"):
            op = op_of(spans, s)
            if op is None:
                continue
            k = op["name"].split(" ")[0]
            out[k]["jobs" if s["kind"] == "job" else "stages"] += 1
            if s["kind"] == "job":
                job_iv[op["id"]].append((s["start_ms"], s["end_ms"]))
    for s in spans.values():
        if s["kind"] == "op":
            k = s["name"].split(" ")[0]
            ms = s["end_ms"] - s["start_ms"]
            out[k]["ops"] += 1
            out[k]["wall"] += ms / 1000.0
            out[k]["gap"] += (ms - covered_ms(job_iv[s["id"]], s["start_ms"],
                                              s["end_ms"])) / 1000.0
    return {k: v for k, v in out.items() if v["ops"]}


def total(table: dict) -> collections.Counter:
    t = collections.Counter()
    for v in table.values():
        t.update(v)
    return t


def show(path: str) -> None:
    table = summarize(path)
    print(f"{'op':<14}{'ops':>5}{'jobs':>7}{'stages':>8}{'wall_s':>9}"
          f"{'gap_s':>8}{'jobs/op':>9}{'s/op':>8}")
    for k in sorted(table, key=lambda k: (-table[k]["jobs"], k)):
        v = table[k]
        n = v["ops"]
        print(f"{k:<14}{n:>5}{v['jobs']:>7}{v['stages']:>8}{v['wall']:>9.2f}"
              f"{v['gap']:>8.2f}{v['jobs'] / n:>9.1f}{v['wall'] / n:>8.3f}")
    t = total(table)
    print(f"{'total':<14}{t['ops']:>5}{t['jobs']:>7}{t['stages']:>8}"
          f"{t['wall']:>9.2f}{t['gap']:>8.2f}")


def compare(first: str, second: str) -> None:
    a, b = summarize(first), summarize(second)
    zero = collections.Counter()

    def cells(x, y):
        return (f"{x['ops']:>5} -> {y['ops']:<5}"
                f"{x['jobs']:>6} -> {y['jobs']:<6}"
                f"{x['wall']:>8.2f} -> {y['wall']:<8.2f}"
                f"{x['gap']:>7.2f} -> {y['gap']:<7.2f}")

    print(f"{'op':<14}{'ops':^14}{'jobs':^16}{'wall_s':^20}{'gap_s':^18}")
    for k in sorted(set(a) | set(b),
                    key=lambda k: (-a.get(k, zero)["jobs"], k)):
        print(f"{k:<14}" + cells(a.get(k, zero), b.get(k, zero)))
    print(f"{'total':<14}" + cells(total(a), total(b)))


def jobs(kind: str, path: str) -> None:
    """Each operation of `kind` with its jobs and their stages' call sites."""
    spans = load(path)
    ops = sorted((s for s in spans.values()
                  if s["kind"] == "op" and s["name"].split(" ")[0] == kind),
                 key=lambda s: s["start_ms"])
    by_op = collections.defaultdict(list)
    stages = collections.defaultdict(list)
    for s in spans.values():
        if s["kind"] == "job":
            op = op_of(spans, s)
            if op is not None:
                by_op[op["id"]].append(s)
        elif s["kind"] == "stage":
            stages[s["parent"]].append(s)
    for op in ops:
        js = sorted(by_op[op["id"]], key=lambda s: (s["start_ms"], s["id"]))
        print(f"{op['name']}: {op['end_ms'] - op['start_ms']} ms, "
              f"{len(js)} jobs")
        for j in js:
            sites = [" ".join(st["name"].split(" ")[2:]) for st in
                     sorted(stages[j["id"]], key=lambda st: st["start_ms"])]
            print(f"  {j['name']:<10}{j['end_ms'] - j['start_ms']:>6} ms  "
                  + "; ".join(sites))
    if not ops:
        print(f"no operation of kind {kind!r}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--jobs":
        jobs(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 2:
        show(sys.argv[1])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
