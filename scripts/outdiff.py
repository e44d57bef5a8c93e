#!/usr/bin/env python3
"""Exact compare of two result directories, for parent-vs-change checks.

Usage: python3 scripts/outdiff.py <dirA> <dirB> [prefix]

Both directories hold one parquet directory (or file) per name: a Verify
output directory (`runMain graft.Verify <sfDir> <outDir>`) or an OracleAux
dump directory (`/tmp/graft_oracle_aux/<tag>`). With a prefix, only names
starting with it are compared. For each name present in either directory
the script checks:

  - the name exists on both sides;
  - the same arrow schema (column names, types, nesting);
  - the same multiset of rows, with doubles and floats compared by their
    bit pattern (so -0.0 != 0.0, and NaN equals only a NaN of the same
    bits) and nested lists/structs compared element by element.

Other files (oracle_sql.json) must be byte-identical. Row order is not
compared: Verify writes `coalesce(1)` results, but the oracle dumps carry
no order. The script only reads. It prints one line per difference and
exits 1 if there is any, 0 otherwise.

`scripts/localdiff.py` checks one run against the DuckDB oracle after the
engines' round(4); this script is the bit-exact check between two runs.
"""
import collections
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """A hashable, bit-exact stand-in for one parquet value."""
    if isinstance(v, float):
        return ("f", struct.pack(">d", v))
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, tuple):  # arrow maps come back as lists of tuples
        return ("t", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple((k, canon(x)) for k, x in v.items()))
    return ("v", repr(v))


def rows_of(path):
    table = pq.read_table(path)
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    rows = collections.Counter(
        tuple(canon(c[r]) for c in cols) for r in range(table.num_rows))
    return table.schema.remove_metadata(), rows


def names_of(root, prefix):
    return {n for n in os.listdir(root)
            if n.startswith(prefix) and not n.startswith((".", "_"))}


def compare(a, b, name):
    """Differences for one name, as printable lines."""
    pa, pb = os.path.join(a, name), os.path.join(b, name)
    is_data = os.path.isdir(pa) or name.endswith(".parquet")
    if not is_data:
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            return [] if fa.read() == fb.read() else [f"{name}: file bytes differ"]
    sa, ra = rows_of(pa)
    sb, rb = rows_of(pb)
    if not sa.equals(sb):
        return [f"{name}: schema differs\n  A: {sa}\n  B: {sb}"]
    if ra == rb:
        return []
    only_a, only_b = ra - rb, rb - ra
    return [f"{name}: rows differ ({sum(ra.values())} vs {sum(rb.values())} "
            f"rows; {sum(only_a.values())} only in A, "
            f"{sum(only_b.values())} only in B)"]


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    prefix = argv[3] if len(argv) == 4 else ""
    na, nb = names_of(a, prefix), names_of(b, prefix)
    diffs = [f"{n}: only in {a}" for n in sorted(na - nb)]
    diffs += [f"{n}: only in {b}" for n in sorted(nb - na)]
    same = sorted(na & nb)
    for n in same:
        diffs += compare(a, b, n)
    for d in diffs:
        print(d)
    print(f"== {len(same)} compared, {len(diffs)} differences ==")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
