#!/usr/bin/env python3
"""Record the reference results the benchmark checks query outputs against.

    python3 perfbench/record.py llm_curate

For each workload, runs every runnable member once on the benchmark's
tables, perfbench/data/sf0.01 (the engine writes each result as parquet),
then checks each result
against the DuckDB oracle with scripts/localdiff.py's rules: columns sorted
by name, same shape, every cell equal (floats exactly, NaN == NaN).
Queries without oracle SQL are recorded by their own fingerprint. Writes
perfbench/expected/<workload>.json only if every oracle compare passes.
Re-record after a deliberate change of results.
"""
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

import run

sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
from localdiff import TABLES, canon, cell_eq  # noqa: E402


def oracle_diff(con, sql: str, path: str):
    """None when the engine's result equals the oracle's, else why not."""
    want = canon(con.sql(sql).df())
    got = canon(pd.read_parquet(path))
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    for c in want.columns:
        for i, (a, b) in enumerate(zip(want[c].tolist(), got[c].tolist())):
            if not cell_eq(a, b):
                return f"col={c} row={i} want={a!r} got={b!r}"
    return None


def record(workload: str, cp: str, data: str) -> bool:
    work = os.path.join(run.BUILD, "record", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run.run_jvm(cp, ["--workload", workload, "--seed", "0",
                           "--seconds", "0", "--trace", "0",
                           "--mode", "record", "--data", data], work,
                      timeout=1800)
    out = os.path.join(work, "record")
    with open(os.path.join(out, "fingerprints.json")) as f:
        fps = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')")
    ok = not res["failures"]
    for f in res["failures"]:
        print(f"{workload}: FAILED {f}")
    queries = {}
    for name, fp in sorted(fps.items()):
        if name in oracle:
            try:
                why = oracle_diff(con, oracle[name], os.path.join(out, name))
            except Exception as e:  # noqa: BLE001 -- reported, then fails
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            if why:
                print(f"{workload}: ORACLE MISMATCH {name}: {why}")
                ok = False
                continue
        queries[name] = {"rows": fp["rows"], "sha256": fp["sha256"],
                         "check": "oracle" if name in oracle else
                         "fingerprint"}
    n_oracle = sum(q["check"] == "oracle" for q in queries.values())
    print(f"{workload}: {len(queries)} recorded ({n_oracle} oracle-checked, "
          f"{len(queries) - n_oracle} by fingerprint only)")
    if ok:
        os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
        with open(os.path.join(run.HERE, "expected", f"{workload}.json"),
                  "w") as f:
            json.dump({"tables": os.path.relpath(data, run.ROOT),
                       "queries": queries},
                      f, indent=1, sort_keys=True)
            f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return ok


def main() -> int:
    names = sys.argv[1:] or ["llm_curate"]
    cp = run.build()
    ok = all([record(w, cp, run.TABLES) for w in names])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
