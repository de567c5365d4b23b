#!/usr/bin/env python3
"""Bit-compare two Verify output dirs, query by query.

Usage: python3 scripts/dump_diff.py <dirA> <dirB> [names]

Reads each <dir>/<name>.parquet/ (one Verify dump per query) from both
dirs and compares them in check_correctness.py's canonical form: columns
sorted by name, rows sorted, values and dtypes exact. `names` is an
optional comma-separated filter; without it every query dumped in
either dir is compared. A query dumped in only one dir (or in neither,
when named) counts as a difference. Exits 1 on any difference.

This is the gate for `no_oracle` rows, which check_correctness.py
cannot see: dump both trees with Verify, then diff the dumps.
"""
import glob, os, sys
import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import canon  # noqa: E402
import pandas as pd  # noqa: E402


def dumped(d: str) -> set:
    return {os.path.basename(p)[:-len(".parquet")]
            for p in glob.glob(f"{d}/*.parquet") if os.path.isdir(p)}


def load(con, d: str, name: str):
    files = glob.glob(f"{d}/{name}.parquet/*.parquet")
    if not files:
        return None
    df = con.sql(f"SELECT * FROM read_parquet({sorted(files)!r})").df()
    # list / struct / map cells are unhashable and unorderable: compare
    # them by the repr of their plain-Python form (a Python float's repr
    # round-trips exactly; numpy's array repr would round)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(plain(v))
                              if isinstance(v, (np.ndarray, list, dict, tuple)) else v)
    return canon(df)


def plain(v):
    if isinstance(v, (np.ndarray, list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    return v.item() if isinstance(v, np.generic) else v


def diff(a, b) -> str:
    if a is None or b is None:
        return "missing in " + ("A" if a is None else "B")
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    except AssertionError as e:
        return " | ".join(str(e).split("\n")[:3])[:300]
    return ""


def main(dir_a: str, dir_b: str, names=None) -> int:
    con = duckdb.connect()
    todo = sorted(names or (dumped(dir_a) | dumped(dir_b)))
    n_diff = 0
    for name in todo:
        why = diff(load(con, dir_a, name), load(con, dir_b, name))
        if why:
            n_diff += 1
            print(f"DIFF {name}: {why}")
        else:
            print(f"SAME {name}")
    print(f"== {len(todo) - n_diff} same, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    names = sys.argv[3].split(",") if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], names))
