#!/usr/bin/env python3
"""Offline result diff between two Verify dumps.

Usage: compare_dumps.py <dirA> <dirB>

Each dir is a `graft.Verify` output: one parquet dir per query. Every
query dumped on either side is compared with oracle_check.py's rules:
columns by name, rows sorted by all columns, dtype-sensitive, exact
values. Prints one line per query and exits 1 on
any difference or on a query missing from either side. Needs no DuckDB,
so a refactor can prove its results unchanged by dumping at the parent
commit and at the change and diffing the two dumps.
"""
import glob
import os
import sys

import pandas as pd

from oracle_check import norm, values_equal


def queries(d: str) -> set:
    # oracle_sql.json names every query, dumped or not (Verify's name
    # filter), so the dumped set is read off the parquet dirs
    return {os.path.basename(os.path.dirname(f))
            for f in glob.glob(f"{d}/*/*.parquet")}


def load(d: str, name: str):
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    if not files:
        return None
    return norm(pd.concat([pd.read_parquet(f) for f in files]))


def diff(a: pd.DataFrame, b: pd.DataFrame):
    """First difference between two normalized frames, or None."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    dtypes = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
              if str(a[c].dtype) != str(b[c].dtype)]
    if dtypes:
        return f"dtypes (col, A, B): {dtypes}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for i in range(len(a)):
        for c in a.columns:
            if not values_equal(a[c].iloc[i], b[c].iloc[i]):
                return f"row {i} col {c}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
    return None


def main(dir_a: str, dir_b: str) -> int:
    n_same = n_diff = 0
    for name in sorted(queries(dir_a) | queries(dir_b)):
        a, b = load(dir_a, name), load(dir_b, name)
        if a is None or b is None:
            side = dir_a if a is None else dir_b
            print(f"DIFF {name}: no output in {side}")
            n_diff += 1
            continue
        d = diff(a, b)
        if d:
            print(f"DIFF {name}: {d}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(a)} rows)")
            n_same += 1
    print(f"== {n_same} same, {n_diff} differ ==")
    return 1 if n_diff or not n_same else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
