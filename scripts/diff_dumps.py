#!/usr/bin/env python3
"""Compare two graft.Verify output directories gate by gate.

Usage: python3 scripts/diff_dumps.py <dirA> <dirB>

Each gate's parquet dump is read as a multiset of rows over its
columns sorted by name (the driver's view: row order and column order
do not count). oracle_sql.json is compared byte for byte. Prints one
line per difference and exits 1 if there is any, 0 otherwise.
"""
import glob
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def gates(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def rows(root, gate):
    files = sorted(glob.glob(os.path.join(root, gate, "*.parquet")))
    cols, out = None, Counter()
    for f in files:
        t = pq.read_table(f)
        names = sorted(t.column_names)
        if cols is None:
            cols = names
        elif cols != names:
            raise ValueError(f"{f}: columns {names} differ from {cols}")
        data = [t.column(n).to_pylist() for n in names]
        out.update(tuple(repr(v) for v in r) for r in zip(*data))
    return cols or [], out


def main(a, b):
    diffs = []
    ga, gb = gates(a), gates(b)
    for g in sorted(ga ^ gb):
        diffs.append(f"{g}: only in {a if g in ga else b}")
    for g in sorted(ga & gb):
        ca, ra = rows(a, g)
        cb, rb = rows(b, g)
        if ca != cb:
            diffs.append(f"{g}: columns {ca} vs {cb}")
        elif ra != rb:
            diffs.append(f"{g}: {sum((ra - rb).values())} rows only in A, "
                         f"{sum((rb - ra).values())} rows only in B")
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.exists(oa) and os.path.exists(ob)):
        diffs.append("oracle_sql.json: missing")
    elif open(oa, "rb").read() != open(ob, "rb").read():
        diffs.append("oracle_sql.json: bytes differ")
    for d in diffs:
        print(d)
    print(f"{len(ga & gb)} gates compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
