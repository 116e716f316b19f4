#!/usr/bin/env python3
"""Compare two graft.Verify dump dirs query by query, by rows.

A byte compare of the parquet files reports equal results as different:
parquet-mr writes each column chunk's encoding set in hash order. This
tool reads each query's dump with pyarrow, canonicalizes every value the
way tools/check.py does (floats rounded to 9 digits, NaN as a token;
nested lists and structs element by element), sorts the rows and
compares them, with columns taken in name order.

Usage: python3 tools/dump_diff.py <dirA> <dirB>
Prints "equal <name> (N rows)" or "DIFF <name>: ..." per query and a
summary line; exits 1 if any query differs or is missing on one side.
"""
import os, sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon  # noqa: E402


def canon_deep(v):
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {canon_deep(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon_deep(x) for x in v) + "]"
    return canon(v)


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def rows(path):
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(canon_deep(col[i]) for col in data)
                        for i in range(t.num_rows))


def main(a, b):
    qa, qb = queries(a), queries(b)
    n_eq = n_bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"DIFF {name}: only in {a if name in qa else b}")
            n_bad += 1
            continue
        ca, ra = rows(os.path.join(a, name))
        cb, rb = rows(os.path.join(b, name))
        if ca != cb:
            print(f"DIFF {name}: columns {ca} vs {cb}")
            n_bad += 1
        elif ra != rb:
            first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                         min(len(ra), len(rb)))
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows, first sorted "
                  f"difference at row {first}")
            n_bad += 1
        else:
            print(f"equal {name} ({len(ra)} rows)")
            n_eq += 1
    print(f"== {n_eq} equal, {n_bad} differ ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
