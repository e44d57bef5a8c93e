#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark's table_ingest workload.

``ingest`` writes Asana task pages for the ingest loop, in the connector's
``pages/tasks/page_NNN.jsonl`` layout, one directory per round, plus
``ledger.json``: per round the commit kind, the row count and the digest of
the table state a plain fold of the batches gives (last writer wins,
deletes removed).

``selfcheck`` regenerates the pages and confirms the same seed gives
byte-identical pages and a different seed gives different gids.

The query workloads need no generator: they read the fixed sf0.01 tables
in ``perfbench/data/sf0.01``.

Usage:
  python3 gen.py ingest --out DIR --seed N [--rounds 80]
  python3 gen.py selfcheck --scratch DIR --seed N
"""
import argparse
import datetime as dt
import filecmp
import hashlib
import json
import os
import shutil
import sys

import numpy as np

# round r >= 1 commits with KINDS[(r - 1) % 5]; round 0 is the initial load
KINDS = ["append", "merge", "sql_merge", "delete", "sql_delete"]
PAGE_ROWS = 100
BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _micros(t: dt.datetime) -> int:
    d = t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def _task(rng, tid: int, modified: dt.datetime) -> dict:
    a = int(rng.integers(0, 12))
    return {
        "gid": f"task{tid}",
        "resource_type": "task",
        "name": f"task {tid} rev {int(rng.integers(0, 1000))}",
        "notes": f"notes for task {tid}",
        "completed": bool(rng.random() < 0.3),
        "num_likes": int(rng.integers(0, 20)),
        "created_at": _iso(BASE),
        "modified_at": _iso(modified),
        "assignee": None if a == 0 else {"gid": f"u{a}", "name": f"User {a}"},
        "parent": None,
        "custom_fields": [],
    }


def _line(tid: int, t: dict, modified_micros: int) -> str:
    """One live task as the benchmark renders it from a table snapshot."""
    a = t["assignee"]["gid"] if t["assignee"] else "null"
    return (f"{tid}|{t['gid']}|{t['name']}|{str(t['completed']).lower()}|"
            f"{t['num_likes']}|{modified_micros}|{a}")


def _digest(state: dict) -> str:
    """Digest of a table state: its task lines ordered by task id."""
    return hashlib.sha256(
        "\n".join(state[k] for k in sorted(state)).encode()).hexdigest()


def gen_ingest(out: str, seed: int, rounds: int, initial: int = 2000,
               batch: int = 200) -> None:
    rng = np.random.default_rng([seed, 7919])
    os.makedirs(out, exist_ok=True)
    state = {}
    next_id = 1_000_000 + int(rng.integers(0, 1_000_000)) * 10
    clock = BASE
    ledger = []
    page_no = 0
    for r in range(rounds + 1):
        kind = "create" if r == 0 else KINDS[(r - 1) % 5]
        if kind == "create":
            ids = list(range(next_id, next_id + initial))
            next_id += initial
        elif kind == "append":
            n = int(rng.integers(batch // 2, batch + 1))
            ids = list(range(next_id, next_id + n))
            next_id += n
        elif kind in ("merge", "sql_merge"):
            n = int(rng.integers(batch // 2, batch + 1))
            overlap = float(rng.uniform(0.2, 0.8))
            n_old = min(len(state), int(n * overlap))
            old = rng.choice(sorted(state), size=n_old, replace=False)
            ids = sorted(int(x) for x in old) + \
                list(range(next_id, next_id + n - n_old))
            next_id += n - n_old
        else:  # delete, sql_delete: a seeded set of live keys
            n = min(len(state) - 1,
                    int(rng.integers(batch // 10, batch // 4)))
            ids = sorted(int(x) for x in
                         rng.choice(sorted(state), size=n, replace=False))
        rows, lines = [], []
        round_start = _micros(clock + dt.timedelta(milliseconds=1))
        for tid in ids:
            clock += dt.timedelta(milliseconds=int(rng.integers(1, 5000)))
            row = _task(rng, tid, clock)
            rows.append(row)
            lines.append((tid, _line(tid, row, _micros(clock))))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        rdir = f"{out}/round_{r:03d}"
        os.makedirs(rdir, exist_ok=True)
        pages = []
        for i in range(0, len(rows), PAGE_ROWS):
            name = f"page_{page_no:03d}.jsonl"
            page_no += 1
            with open(f"{rdir}/{name}", "w") as f:
                for row in rows[i:i + PAGE_ROWS]:
                    f.write(json.dumps(row, sort_keys=True) + "\n")
            pages.append(name)
        if kind in ("delete", "sql_delete"):
            for tid in ids:
                del state[tid]
        else:
            state.update(lines)
        ledger.append({"round": r, "kind": kind, "pages": pages,
                       "rows": len(rows), "watermark_micros": round_start,
                       "live": len(state), "digest": _digest(state)})
    with open(f"{out}/ledger.json", "w") as f:
        json.dump(ledger, f, indent=0)


def selfcheck(scratch: str, seed: int, rounds: int = 6) -> None:
    a, b, c = (f"{scratch}/selfcheck_{x}" for x in "abc")
    for d in (a, b, c):
        shutil.rmtree(d, ignore_errors=True)
    gen_ingest(a, seed, rounds)
    gen_ingest(b, seed, rounds)
    gen_ingest(c, seed + 1, rounds)
    try:
        for r in range(rounds + 1):
            rd = f"round_{r:03d}"
            names = sorted(os.listdir(f"{a}/{rd}"))
            if names != sorted(os.listdir(f"{b}/{rd}")):
                raise SystemExit(f"selfcheck: seed {seed} page lists differ")
            _, bad, err = filecmp.cmpfiles(f"{a}/{rd}", f"{b}/{rd}", names,
                                           shallow=False)
            if bad or err:
                raise SystemExit(f"selfcheck: seed {seed} pages differ: {bad}")

        def gids(d):
            out = set()
            for r in range(rounds + 1):
                rd = f"{d}/round_{r:03d}"
                for n in os.listdir(rd):
                    with open(f"{rd}/{n}") as f:
                        out.update(json.loads(line)["gid"] for line in f)
            return out
        if gids(a) == gids(c):
            raise SystemExit(f"selfcheck: seeds {seed} and {seed + 1} "
                             "generated the same gids")
    finally:
        for d in (a, b, c):
            shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    i = sub.add_parser("ingest")
    i.add_argument("--out", required=True)
    i.add_argument("--seed", type=int, required=True)
    i.add_argument("--rounds", type=int, default=80)
    s = sub.add_parser("selfcheck")
    s.add_argument("--scratch", required=True)
    s.add_argument("--seed", type=int, required=True)
    a = p.parse_args()
    if a.cmd == "ingest":
        gen_ingest(a.out, a.seed, a.rounds)
    else:
        selfcheck(a.scratch, a.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
